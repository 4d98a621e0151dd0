"""Arrow hash kernels on adversarial randomized corpora, pinned to the
rows their retired pure-Catalyst spellings emitted (recorded digests),
plus unit coverage of the shared hashkernels scaffold (chunk caps are
exactly the paths a curated example suite misses)."""

from __future__ import annotations

import random

from image_pdf_ocr_suite_spark.analytics import corpusprep, dedup
from image_pdf_ocr_suite_spark.analytics import text as textops
from image_pdf_ocr_suite_spark.analytics.hashkernels import iter_flat_chunks


def _random_corpus(seed: int, n: int = 150):
    """Texts over a tiny alphabet with pathological whitespace: multi-space
    runs, tabs INSIDE tokens, ideographic space, empties, nulls, dup ids."""
    rng = random.Random(seed)
    vocab = ["aa", "b", "ccc", "d\te", "ｘ", "日本", "f"]
    rows = []
    for i in range(n):
        kind = rng.random()
        if kind < 0.05:
            rows.append((i, None))
        elif kind < 0.10:
            rows.append((i, ""))
        else:
            k = rng.randint(1, 30)
            toks = [rng.choice(vocab) for _ in range(k)]
            # inject empty tokens via double spaces
            sep = lambda: "  " if rng.random() < 0.15 else " "
            text = toks[0]
            for t in toks[1:]:
                text += sep() + t
            rows.append((i, text))
    # duplicate-id rows (same and different text)
    rows.append((3, rows[4][1]))
    rows.append((3, "aa b ccc d\te aa b ccc"))
    return rows


def test_randomized_kernel_equivalence(spark, rows_sha256):
    rows = _random_corpus(20260817)
    df = spark.createDataFrame(rows, "doc_id long, text string")

    assert rows_sha256(dedup.minhash_signature(df)) == (
        496, "f7c2d915f9c3800fdd65014ff2557dbc6190713ea0440e63aa07a2af5491b22e")
    assert rows_sha256(textops.winnow_fingerprints(df)) == (
        1765, "27be19e1848d1b1e9588815afb41e7db423122b7416d340341e57efb4f623951")
    test = df.where("doc_id % 11 = 0")
    assert rows_sha256(corpusprep.decontaminate_ngrams(df, test, n=3)) == (
        111, "57ff92c143e04875b3caccc09bd53cea8d23a79cce1621f06eb2f8c77f2ec1b9")


def test_iter_flat_chunks_respects_cap_and_order():
    ids = list(range(6))
    lists = [["a"] * 3, ["b"] * 4, [], ["c"] * 10, ["d"] * 2, ["e"] * 1]
    chunks = list(iter_flat_chunks(ids, lists, max_items=5))
    # concatenation reproduces the input exactly, in order
    got_ids, got_items = [], []
    for cids, lens, flat in chunks:
        assert len(cids) == len(lens)
        assert int(lens.sum()) == len(flat)
        got_ids.extend(cids)
        got_items.extend(flat.tolist())
    assert got_ids == ids
    assert got_items == [x for lst in lists for x in lst]
    # every chunk under the cap unless it is a single oversized doc
    for cids, lens, flat in chunks:
        assert len(flat) <= 5 or len(cids) == 1
    # the 10-item doc was NOT split and sits alone
    assert any(len(cids) == 1 and len(flat) == 10 for cids, lens, flat in chunks)


def test_iter_flat_chunks_chunking_preserves_kernel_output(spark):
    """Force tiny (7-gram) chunks through the decontamination kernel:
    output must be identical to the default-cap run — chunk boundaries
    must never change results, only peak memory."""
    import image_pdf_ocr_suite_spark.analytics.hashkernels as hk
    rows = _random_corpus(7, n=60)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    test = df.where("doc_id % 7 = 0")
    base = sorted(map(tuple, corpusprep.decontaminate_ngrams(
        df, test, n=3).collect()))

    orig_iter = iter_flat_chunks

    def tiny_iter(ids, lists, max_items=0):
        return orig_iter(ids, lists, max_items=7)

    # the kernel binds the name via `from hashkernels import ...` at
    # DataFrame-construction time, so patching the module attribute
    # BEFORE the call is picked up (and pickled to the workers)
    hk.iter_flat_chunks = tiny_iter
    try:
        tiny = sorted(map(tuple, corpusprep.decontaminate_ngrams(
            df, test, n=3).collect()))
    finally:
        hk.iter_flat_chunks = orig_iter
    assert tiny == base
