"""Exact-substring dedup (fixed-window suffix-array approximation):
duplicate_spans / cut_duplicate_spans over crafted corpora with
hand-computed expected spans, keeper semantics, and window merging.

Reference behavior modeled: Lee et al. 2022 ("Deduplicating Training
Data Makes Language Models Better") — remove every occurrence of a
duplicated >=n-token substring except one corpus-wide keeper copy.
"""

from __future__ import annotations

import pytest

from image_pdf_ocr_suite_spark.analytics import corpusprep as cp


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _words(prefix, k):
    return " ".join(f"{prefix}{i}" for i in range(k))


def test_disjoint_docs_have_no_spans(spark):
    docs = _docs(spark, [(1, _words("a", 30)), (2, _words("b", 30))])
    assert cp.duplicate_spans(docs, n=5).count() == 0
    out = {r.doc_id: r for r in cp.cut_duplicate_spans(docs, n=5).collect()}
    assert out[1].clean_text == _words("a", 30)
    assert out[1].n_removed == 0 and out[1].n_tokens == 30


def test_exact_duplicate_doc_keeps_first_copy_only(spark):
    body = _words("w", 12)
    docs = _docs(spark, [(1, body), (2, body), (3, _words("z", 12))])
    spans = cp.duplicate_spans(docs, n=5).collect()
    # doc 1 is the keeper for every window (min (id, pos)); doc 2 is one
    # merged full-body span
    assert [(r.doc_id, r.span_start, r.span_end) for r in spans] == \
        [(2, 0, 12)]
    out = {r.doc_id: r for r in cp.cut_duplicate_spans(docs, n=5).collect()}
    assert out[1].clean_text == body          # keeper intact
    assert out[2].clean_text == "" and out[2].n_removed == 12
    assert out[3].clean_text == _words("z", 12)


def test_shared_passage_cut_from_second_doc_only(spark):
    passage = _words("p", 6)
    d1 = _words("a", 4) + " " + passage + " " + _words("b", 4)
    d2 = _words("c", 3) + " " + passage + " " + _words("d", 5)
    docs = _docs(spark, [(1, d1), (2, d2)])
    spans = cp.duplicate_spans(docs, n=6).collect()
    # the passage starts at token 4 in doc 1 (keeper) and token 3 in
    # doc 2... keeper is min (id, pos) = (1, 4), so doc 2 loses tokens
    # [3, 9)
    assert [(r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in spans] == [(2, 3, 9, 6)]
    out = {r.doc_id: r for r in cp.cut_duplicate_spans(docs, n=6).collect()}
    assert out[1].clean_text == d1
    assert out[2].clean_text == _words("c", 3) + " " + _words("d", 5)
    assert out[2].n_removed == 6


def test_overlapping_windows_merge_into_one_span(spark):
    # a 9-token shared passage with n=5 produces 5 overlapping duplicated
    # windows in the non-keeper doc -> ONE maximal merged span of 9
    passage = _words("p", 9)
    docs = _docs(spark, [(1, passage + " " + _words("a", 3)),
                         (2, _words("b", 2) + " " + passage)])
    spans = cp.duplicate_spans(docs, n=5).collect()
    assert [(r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in spans] == [(2, 2, 11, 9)]


def test_two_separate_spans_stay_separate(spark):
    p1, p2 = _words("p", 5), _words("q", 5)
    docs = _docs(spark, [
        (1, p1 + " " + _words("x", 8) + " " + p2),
        (2, p1 + " " + _words("y", 8) + " " + p2)])
    spans = sorted(
        ((r.doc_id, r.span_start, r.span_end)
         for r in cp.duplicate_spans(docs, n=5).collect()))
    # doc 1 keeps both (keeper); doc 2 loses [0,5) and [13,18)
    assert spans == [(2, 0, 5), (2, 13, 18)]


def test_within_doc_repetition_is_deduplicated(spark):
    # the same 5-gram repeated inside ONE document: second occurrence is
    # a duplicated span even with no other document involved
    passage = _words("p", 5)
    docs = _docs(spark, [(1, passage + " " + _words("m", 4) + " "
                          + passage)])
    spans = cp.duplicate_spans(docs, n=5).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in spans] == \
        [(1, 9, 14)]


def test_short_null_and_empty_docs_pass_through(spark):
    docs = spark.createDataFrame(
        [(1, "one two three"), (2, None), (3, ""), (4, _words("a", 30))],
        "doc_id bigint, text string")
    assert cp.duplicate_spans(docs, n=5).count() == 0
    out = {r.doc_id: r for r in cp.cut_duplicate_spans(docs, n=5).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2].clean_text == "" and out[2].n_tokens == 0
    assert out[3].clean_text == "" and out[3].n_tokens == 0
    assert out[1].n_removed == 0


@pytest.mark.parametrize("n", [3, 7])
def test_arrow_and_catalyst_impls_agree(spark, n):
    """The Arrow kernels emit the rows the retired pure-Catalyst
    spelling emitted (recorded): doc 0 keeps the shared 10-token prefix
    and 8-token suffix, every later doc loses both."""
    rows = [(i, _words("s", 10) + " " + _words(f"u{i}", 5) + " "
             + _words("t", 8)) for i in range(6)]
    docs = _docs(spark, rows)
    spans = sorted(map(tuple, cp.duplicate_spans(docs, n=n).collect()))
    assert spans == [(i, s, e, e - s) for i in range(1, 6)
                     for s, e in ((0, 10), (15, 23))]
    cut = sorted(map(tuple, cp.cut_duplicate_spans(docs, n=n).collect()))
    assert cut == [(0, rows[0][1], 23, 0)] + [
        (i, _words(f"u{i}", 5), 23, 18) for i in range(1, 6)]


def test_positional_gram_hash_contract(spark):
    # positions are 0-based window starts over the single-space token
    # contract; a doc with T tokens emits T - n + 1 windows
    docs = _docs(spark, [(1, "a  b c d  e")])   # doubled spaces collapse
    rows = sorted((r.pos, r["__h"]) for r in
                  cp._positional_gram_hashes(docs, 3, "text", "doc_id")
                  .collect())
    assert [p for p, _ in rows] == [0, 1, 2]
    import hashlib
    assert rows[0][1] == hashlib.md5(b"a b c").hexdigest()
