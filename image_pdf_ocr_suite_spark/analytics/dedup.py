"""Deduplication operators for web-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
SimHash, and n-gram Jaccard.  Every operator has a DuckDB-replicable
definition — the MinHash uses lexicographic MIN over fixed-width md5 hex
digests, which is order-isomorphic to numeric min over the 128-bit hash,
so both engines agree bit-for-bit.  The SimHash and MinHash signature
stages are Arrow unique-token/shingle kernels (interpreted-HOF md5 is
GC-bound in a shared JVM — see hashkernels.py); the DuckDB oracle checks
those kernels directly.

Scale notes (100 TB design point):
- exact dedup is a single hash-aggregate shuffle on the digest — the digest
  (16 bytes) shuffles, never the document body;
- MinHash signatures are computed scan-side (map-only); only (band, bucket,
  id) rows shuffle, so candidate generation is O(n·bands) small rows;
- n-gram Jaccard is for candidate VERIFICATION (run it on LSH candidate
  pairs, never as a blind cross join — the helper caps the id range for
  demo/oracle use).  ``verified_near_dup_losers`` is that composition:
  LSH candidates → pair-only exact Jaccard → connected components →
  drop everything but each component's smallest id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content digest (hash-groupBy)."""
    h = F.md5(F.col(text_col)).alias("content_md5")
    keep = df.select(h, F.col(id_col)).groupBy("content_md5").agg(
        F.min(id_col).alias(id_col))
    return keep


def shingles_from_tokens(sp, k: int = 3):
    """k-token shingles from a token-array column.  Guarded: fewer than k
    tokens -> empty array (Spark's sequence() would otherwise produce a
    DESCENDING range).  Pass an ATTRIBUTE column, not a split() expression —
    element_at inside the lambda re-evaluates its argument per element, so
    an inlined split() would re-tokenize the text once per shingle term."""
    idx = F.sequence(F.lit(1), F.size(sp) - (k - 1))
    mk = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(sp, i + j) for j in range(k)]))
    return F.when(F.size(sp) >= k, mk).otherwise(F.array().cast("array<string>"))


def shingles_expr(text_col: str, k: int = 3):
    """k-token shingles of a whitespace-tokenized text column."""
    return shingles_from_tokens(F.split(F.col(text_col), " "), k)


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 4, shingle_k: int = 3) -> DataFrame:
    """(id, band, minhash) — minhash_i = MIN(md5(shingle || '#' || i)).
    Lexicographic min over fixed-width hex == numeric min over the hash.
    Shingles are ``shingle_k`` tokens of the RAW single-space split
    (empty tokens kept, the ``shingles_expr`` contract); docs with fewer
    tokens, empty or null text emit no rows; duplicate id rows each
    emit their own signature.

    An Arrow kernel hashes each DISTINCT shingle of the batch once per
    band (factorize → md5 → per-doc min) — a Catalyst ``aggregate`` over
    the shingle array evaluates ~4 md5+concat allocations per shingle
    inside the JVM interpreter and hits the shared-JVM GC wall at corpus
    scale (same finding as the decontamination gram stage,
    corpusprep._ngram_hashes)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from image_pdf_ocr_suite_spark.analytics.hashkernels import (
        iter_flat_chunks)

    id_type = df.schema[id_col].dataType.simpleString()
    suffixes = [f"#{i}".encode() for i in range(n_hashes)]

    def kernel(batches):
        for pdf in batches:
            ids, sh_lists = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str):
                    continue
                toks = t.split(" ")  # raw split, empties KEPT (contract
                # of shingles_expr: F.split with no filter)
                if len(toks) < shingle_k:
                    continue
                sh_lists.append([" ".join(toks[j:j + shingle_k])
                                 for j in range(len(toks) - shingle_k + 1)])
                ids.append(i)
            for cids, lens, flat in iter_flat_chunks(ids, sh_lists):
                codes, uniques = pd.factorize(flat)
                uhash = np.empty((len(uniques), n_hashes), dtype=object)
                for u_i, u in enumerate(uniques):
                    ub = u.encode()
                    for b in range(n_hashes):
                        uhash[u_i, b] = hashlib.md5(
                            ub + suffixes[b]).hexdigest()
                offs = np.concatenate([[0], np.cumsum(lens)])
                out_id, out_band, out_mh = [], [], []
                for row in range(len(cids)):
                    row_codes = codes[offs[row]:offs[row + 1]]
                    for b in range(n_hashes):
                        out_id.append(cids[row])
                        out_band.append(b)
                        out_mh.append(min(uhash[c, b] for c in row_codes))
                yield pd.DataFrame({id_col: out_id, "band": out_band,
                                    "minhash": out_mh})

    from image_pdf_ocr_suite_spark.partitioning import fan_out_small

    return fan_out_small(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, band int, minhash string")


def lsh_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                n_hashes: int = 4, shingle_k: int = 3) -> DataFrame:
    """Candidate buckets: (band, minhash) groups with >1 member."""
    sig = minhash_signature(df, text_col, id_col, n_hashes, shingle_k)
    return (sig.groupBy("band", "minhash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
            .where(F.col("n_docs") > 1))


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_hashes: int = 4,
                        shingle_k: int = 3,
                        sig: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any band bucket —
    the bucket-join; only ids shuffle.  Pass a precomputed ``sig``
    (``minhash_signature`` output) to skip the kernel pass — the
    online-dedup stream computes one signature per batch and reuses it
    across the three consumers."""
    if sig is None:
        sig = minhash_signature(df, text_col, id_col, n_hashes, shingle_k)
    a = sig.alias("a")
    b = sig.alias("b")
    return (a.join(b, ["band", "minhash"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.2,
                        max_id: int | None = 60) -> DataFrame:
    """Token-set Jaccard over all pairs within a bounded id range (demo /
    verification operator — at scale, feed LSH candidates instead)."""
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    base = df.select(F.col(id_col), toks.alias("toks"))
    if max_id is not None:
        base = base.where(F.col(id_col) < max_id)
    a, b = base.alias("a"), base.alias("b")
    # int/int division — identical IEEE doubles in any engine, no rounding
    j = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).cast("double") / \
        F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    return (a.crossJoin(b)
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    j.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def minhash_write_index(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", n_hashes: int = 4,
                        shingle_k: int = 3) -> None:
    """Materialize the corpus minhash signature table partitioned by
    ``band`` — the incremental-dedup layout: a daily ingest batch
    minhashes only ITSELF and probes this index, instead of
    re-signaturing the whole corpus per batch.  Append new batches'
    signatures with mode=append into the same partition dirs (the
    signature of a document never changes)."""
    sig = minhash_signature(df, text_col, id_col, n_hashes, shingle_k)
    sig.withColumnRenamed(id_col, "index_id") \
       .write.mode("overwrite").partitionBy("band").parquet(path)


def minhash_append_to_index(df: DataFrame, path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id", n_hashes: int = 4,
                            shingle_k: int = 3) -> None:
    sig = minhash_signature(df, text_col, id_col, n_hashes, shingle_k)
    sig.withColumnRenamed(id_col, "index_id") \
       .write.mode("append").partitionBy("band").parquet(path)


def dedup_against_index(new_docs: DataFrame, spark, path: str | None,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_hashes: int = 4, shingle_k: int = 3,
                        threshold: float | None = None,
                        corpus_docs: DataFrame | None = None,
                        index_df: DataFrame | None = None,
                        sig: DataFrame | None = None) -> DataFrame:
    """Incremental near-dup screening: minhash the NEW batch only and
    bucket-join it against the materialized corpus index — returns
    candidate ``(new_id, index_id)`` pairs (distinct, self-matches
    excluded).  With ``threshold`` and ``corpus_docs`` given, candidates
    are Jaccard-VERIFIED before being returned (the same
    no-drop-without-verification contract as verified_near_dup_losers).

    Scale shape: only the new batch pays kernel compute; the join
    shuffles (band, minhash, id) slivers of the new side against the
    index scan — text never rides the shuffle.

    Id contract: an equal id on both sides is treated as the SAME
    document (the re-probe-after-append workflow) and excluded as a
    self-match.  When a new-batch id collides with a *different* corpus
    document's id, verification still scores each side against its own
    text — the union is namespace-prefixed internally (ADVICE r4), never
    deduped across the two id spaces."""
    if sig is None:
        sig = minhash_signature(new_docs, text_col, id_col,
                                n_hashes, shingle_k)
    # the index is either the materialized parquet layout (path) or an
    # in-session signature relation (index_df — the streaming twin's
    # snapshot-table state); same (band, minhash, index_id) schema
    idx = index_df if index_df is not None else spark.read.parquet(path)
    cand = (sig.join(idx, ["band", "minhash"])
            .where(F.col(id_col) != F.col("index_id"))
            .select(F.col(id_col).alias("new_id"),
                    F.col("index_id")).distinct())
    if threshold is None:
        return cand
    if corpus_docs is None:
        raise ValueError("threshold verification needs corpus_docs "
                         "(the text of the indexed documents)")
    # Disambiguate the two id namespaces before the union (ADVICE r4): if
    # a new-batch id collided with a DIFFERENT corpus document's id, the
    # old dropDuplicates([id_col]) picked an arbitrary text and silently
    # mis-verified the candidate.  Prefixing keeps verification exact even
    # when the namespaces overlap; the prefixes never leave this function.
    both = (new_docs.select(F.concat(F.lit("n:"), F.col(id_col))
                            .alias(id_col), F.col(text_col))
            .unionByName(
                corpus_docs.select(F.concat(F.lit("c:"), F.col(id_col))
                                   .alias(id_col), F.col(text_col))))
    pairs = cand.select(
        F.concat(F.lit("n:"), F.col("new_id")).alias("id_a"),
        F.concat(F.lit("c:"), F.col("index_id")).alias("id_b"))
    id_type = dict(cand.dtypes)["new_id"]    # restore the caller's id dtype
    verified = jaccard_verify_pairs(pairs, both, text_col, id_col)
    return (verified.where(F.col("jaccard") >= F.lit(threshold))
            .select(F.substring("id_a", 3, 2 ** 30).cast(id_type)
                    .alias("new_id"),
                    F.substring("id_b", 3, 2 ** 30).cast(id_type)
                    .alias("index_id"),
                    "jaccard"))


def jaccard_verify_pairs(pairs: DataFrame, df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         broadcast_max_ids: int = 2_000_000) -> DataFrame:
    """(id_a, id_b, jaccard) — exact token-set Jaccard computed ONLY on the
    given candidate pairs (two id-equi joins back to the token sets; never a
    cross join).  The verification stage LSH candidates must pass before a
    document may be dropped: with few bands, bucket collisions between
    genuinely different documents are routine.

    Scale shape: the corpus is first semi-joined down to the ids that
    appear in ``pairs`` — with an explicit broadcast while the id set
    fits ``broadcast_max_ids`` (counted BEFORE broadcasting, the same
    budget discipline as clean_corpus's dedup joins), a plain shuffle
    semi-join past it.  Without the restriction the two id-equi joins
    below shuffle EVERY document's token array across the cluster to
    meet a candidate set LSH banding has already made small.  ``pairs``
    is materialized once via ``localCheckpoint`` (NOT DataFrame
    persist: it is consumed three times — the id projection, its
    count, and the verify join — and checkpoint blocks are reclaimed
    by the ContextCleaner when the plan is garbage-collected, where
    CacheManager entries would outlive a per-micro-batch caller)."""
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    # cand_ids is consumed twice too (the budget count, then the
    # semi-join) — checkpoint it so the union+distinct shuffle runs once
    cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                .unionByName(pairs.select(F.col("id_b").alias(id_col)))
                .distinct().localCheckpoint(eager=False))
    if cand_ids.count() <= broadcast_max_ids:
        cand_ids = F.broadcast(cand_ids)
    toks = (df.join(cand_ids, id_col, "left_semi")
            .select(F.col(id_col),
                    F.array_distinct(F.split(F.col(text_col), " ")).alias("toks")))
    toks = toks.select(id_col, "toks", F.size("toks").alias("n"))
    a = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"),
                    F.col("n").alias("n_a"))
    b = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"),
                    F.col("n").alias("n_b"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    # one set traversal per pair: |union| = |a| + |b| - |intersect| (sides
    # are already distinct), so array_union never materializes.  Exact
    # int/int division — identical IEEE doubles in any engine.
    inter = joined.select(
        "id_a", "id_b", "n_a", "n_b",
        F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b"))).alias("i"))
    j = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return inter.select("id_a", "id_b", j.alias("jaccard"))


# rounds taken by the most recent connected-components convergence, and
# (star only) the edge count after each round's small-star — the
# monotone-collapse evidence (diagnostics for round-count tests/bench,
# not API)
_last_rounds: int = 0
_last_edge_counts: list[int] = []


class ComponentsNotConverged(RuntimeError):
    """A components solver exhausted max_iters with labels still
    moving — returning them silently would violate the 'one representative
    per component' contract (a non-minimal label is indistinguishable from
    a correct one downstream)."""


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iters: int = 30) -> DataFrame:
    """(id, comp) for every id appearing in ``pairs``; comp = smallest id
    reachable through the pair graph (pytest-pinned against a union-find
    reference), via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    ACM SoCC 2014 — public algorithm).

    Large-star hangs every strictly-larger neighbor of a node under its
    minimum neighborhood member; small-star hangs the smaller neighbors
    (and the node) under the same minimum.  Each round is two
    groupBy-min + join passes over the EDGE list only — there is no
    separate label table to shuffle, and intermediate edge counts only
    shrink (toward one star per component), which is the property that
    survives 100 TB graphs: min-label propagation shuffles the full
    label frontier every round, star rounds shuffle a monotonically
    collapsing edge set.  Convergence is O(log^2 n) rounds worst-case,
    few in practice: measured (test_dedup_components.py), a
    label-shuffled 1024-node path graph converges in 9 rounds where
    min-label propagation with pointer jumping still trickled after 30,
    and shallow near-dup graphs converge in 2-3.  Staying under ~10 rounds also
    matters operationally: iterated localCheckpoint loops degrade
    superlinearly past ~18 rounds in a shared local JVM (measured,
    CLAUDE.md round-4 rules).  Raises ComponentsNotConverged when
    ``max_iters`` exhausts."""
    global _last_edge_counts
    _last_edge_counts = []
    ids = (pairs.select(F.col(id_a).alias("id"))
           .union(pairs.select(F.col(id_b).alias("id"))).distinct())
    edges = (pairs.where(F.col(id_a) != F.col(id_b))
             .select(F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
                     F.least(F.col(id_a), F.col(id_b)).alias("v"))
             .distinct().localCheckpoint())
    for rnd in range(max_iters):
        # large-star: for every node, all strictly-larger neighbors attach
        # to min(N(u) ∪ {u}); output stays canonical (larger, smaller)
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least(F.col("u"), F.col("mn")).alias("m")))
        large = (sym.join(mins, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct().localCheckpoint())
        # small-star: smaller neighbors (and the node itself) attach to
        # the node's minimum smaller neighbor
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        withm = large.join(mins2, "u")
        small = (withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .union(withm.select(F.col("u"), F.col("m").alias("v")))
                 .where(F.col("u") != F.col("v"))
                 .distinct().localCheckpoint())
        # fixpoint = the round left the edge set unchanged (both sides are
        # distinct, so equal count + empty one-sided difference ⇒ equal)
        n_small = small.count()               # also the per-round evidence
        _last_edge_counts.append(n_small)
        if (n_small == edges.count()
                and small.exceptAll(edges).limit(1).count() == 0):
            global _last_rounds
            _last_rounds = rnd + 1        # diagnostics for the round-count tests
            lab = small.select(F.col("u").alias("id"), F.col("v").alias("comp"))
            return (ids.join(lab, "id", "left")
                    .select("id", F.coalesce(F.col("comp"), F.col("id"))
                            .alias("comp")))
        edges = small
    raise ComponentsNotConverged(
        f"star rounds still changing after {max_iters} iterations")


def connected_components_auto(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              driver_max_edges: int = 2_000_000,
                              max_iters: int = 30) -> DataFrame:
    """(id, comp) — same contract as :func:`connected_components_star`,
    with a bounded DRIVER fast path: when the distinct edge set fits
    ``driver_max_edges`` it is collected once and resolved with
    path-compressed union-find, because each distributed star round
    costs ~6 Spark actions of pure scheduler latency (3 localCheckpoint
    materializations + 3 counts) — measured ~13 s on a 104-edge
    verified near-dup graph where the union-find answer is
    sub-millisecond.  Past the bound (a dup-heavy 100-TB crawl's
    verified edge set) it falls back to the star rounds, whose shuffles
    shrink monotonically.  The collect is bounded and counted BEFORE it
    happens — the same budget discipline as the exact-dedup broadcast
    (jobs/corpus_job.py) and the IVF training sample (similarity.py)."""
    # self-pairs are kept as degenerate edges: they carry isolated ids,
    # which must appear in the output as their own component (the star
    # contract resolves them through its ids ∪ left-join spelling).
    # localCheckpoint, not DataFrame persist: it is consumed twice
    # (count, then collect or the star fallback), and checkpoint blocks
    # are ContextCleaner-reclaimed when the plan is garbage-collected —
    # a CacheManager persist entry would outlive repeated callers.
    edges = (pairs.select(F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
                          F.least(F.col(id_a), F.col(id_b)).alias("v"))
             .distinct().localCheckpoint(eager=False))
    spark = pairs.sparkSession
    id_type = pairs.schema[id_a].dataType
    # budget by BYTES as well as edges (round 6, ADVICE r5 #3): 2M
    # edges of long URL strings plus the parent/comp dicts can be
    # multiple GB of Python objects even though the edge count passed.
    # The payload size is measured in the SAME bounded aggregate as the
    # count (string ids: exact octet sum; fixed-width ids: 16 B/edge);
    # the driver footprint estimate adds ~150 B/edge of object/dict
    # overhead and must fit an eighth of the driver heap's own order —
    # a fixed 1 GiB default, overridable via driver_max_edges=0 to
    # force the distributed star path outright.
    from pyspark.sql.types import StringType

    if isinstance(id_type, StringType):
        stat = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.octet_length("u") + F.octet_length("v")),
                       F.lit(0)).alias("b")).first()
        n_edges, id_bytes = int(stat["n"]), int(stat["b"])
    else:
        n_edges = edges.count()
        id_bytes = 16 * n_edges
    est_driver_bytes = id_bytes + 150 * n_edges
    if n_edges > driver_max_edges or est_driver_bytes > (1 << 30):
        return connected_components_star(edges, "u", "v",
                                         max_iters=max_iters)
    out_schema = StructType([StructField("id", id_type, True),
                             StructField("comp", id_type, True)])
    if n_edges == 0:
        return spark.createDataFrame([], out_schema)
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:                 # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edges.collect():
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    rows = [(node, comp_min[find(node)]) for node in parent]
    return spark.createDataFrame(rows, out_schema)


def verified_near_dup_losers(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", threshold: float = 0.5,
                             n_hashes: int = 4, shingle_k: int = 3,
                             max_iters: int = 20,
                             sig: DataFrame | None = None,
                             broadcast_max_ids: int = 2_000_000) -> DataFrame:
    """Ids safe to DROP as near-duplicates: LSH candidates → exact Jaccard
    verification (>= threshold) → connected components → everything except
    each component's smallest id.  Component-wise keeper selection avoids
    the greedy-pair over-deletion on chains (for verified pairs (1,2),(2,3)
    the component {1,2,3} keeps exactly 1; but if only (2,3) verifies, 1
    survives and {2,3} keeps 2)."""
    cand = lsh_candidate_pairs(df, text_col, id_col, n_hashes, shingle_k,
                               sig=sig)
    verified = jaccard_verify_pairs(cand, df, text_col, id_col,
                                    broadcast_max_ids=broadcast_max_ids) \
        .where(F.col("jaccard") >= F.lit(threshold))
    comp = connected_components_auto(verified, max_iters=max_iters)
    return comp.where(F.col("id") != F.col("comp")) \
               .select(F.col("id").alias(id_col))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens (Arrow-vectorized pandas UDF;
    md5-derived 64-bit token hashes, sign-sum per bit).  Near-dup groups =
    equal simhash (or small Hamming distance downstream).

    The kernel hashes each DISTINCT token of the batch exactly once
    (factorize → md5 per unique → gather): the md5-hex definition is
    pinned by the DuckDB oracle, so the hash can't be swapped for a
    numpy-implementable one — but corpora follow Zipf, so unique-per-
    batch hashing removes most of the interpreted md5 calls that
    dominated this stage (measured ~3× on a Zipf batch; np.add.at and
    reduceat variants over a token×bit votes matrix were REJECTED — the
    wide-matrix memory traffic made them slower than the original)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bit_weights = np.array([(1 << k) if k < 63 else -(1 << 63)
                            for k in range(64)], dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)

    def _simhash_fn(texts):
        n = len(texts)
        tok_lists = [t.split() if isinstance(t, str) and t else [] for t in texts]
        lens = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64, count=n)
        total = int(lens.sum())
        out = np.zeros(n, dtype=np.int64)
        if total == 0:
            return pd.Series(out)
        flat = np.empty(total, dtype=object)
        pos = 0
        for tl in tok_lists:
            flat[pos:pos + len(tl)] = tl
            pos += len(tl)
        # hash each DISTINCT token once; gather per occurrence
        codes, uniques = pd.factorize(flat)
        uhash = np.fromiter(
            (int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
             for u in uniques),
            dtype=np.uint64, count=len(uniques))
        hs_all = uhash[codes]
        offs = np.concatenate([[0], np.cumsum(lens)])
        for row in range(n):
            s, e = offs[row], offs[row + 1]
            if s == e:
                continue
            acc = (((hs_all[s:e, None] >> bit_idx) & 1)
                   .astype(np.int64) * 2 - 1).sum(axis=0)
            out[row] = ((acc > 0) * bit_weights).sum()
        return pd.Series(out)

    # real annotation objects (module uses `from __future__ import
    # annotations`, which would stringify inline hints and break
    # pandas_udf's type inference)
    _simhash_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _simhash = pandas_udf(_simhash_fn, "long")

    from image_pdf_ocr_suite_spark.partitioning import fan_out_small

    return fan_out_small(df.select(id_col, text_col)).select(
        F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


def simhash_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    sh = simhash64(df, text_col, id_col)
    return (sh.groupBy("simhash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
            .where(F.col("n_docs") > 1))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       n_bands: int = 4) -> DataFrame:
    """SimHash near-duplicate pairs within ``max_hamming`` bits.

    Pigeonhole LSH: split the 64-bit signature into ``n_bands`` bit bands —
    any pair within max_hamming < n_bands bits must agree on at least one
    whole band, so candidates = pairs sharing any band value (tiny
    (band, value, id) shuffle), verified with an exact popcount.  All
    JVM-side bit arithmetic; the only Python is the signature UDF."""
    assert max_hamming < n_bands, "pigeonhole requires max_hamming < n_bands"
    sh = simhash64(df, text_col, id_col)
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = [
        F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias("bv")
        for i in range(n_bands)
    ]
    sig = sh.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), b) for i, b in enumerate(bands)
        ])).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bv")
    a, b = sig.alias("a"), sig.alias("b")
    cand = (a.join(b, ["band", "bv"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")) \
               .where(F.col("hamming") <= max_hamming)
