"""WordPiece training/encoding (analytics/wordpiece.py).

Pins: distributed training == pure-Python replay exactly (IEEE-double
likelihood score on exact integer counts, total tie-break), the ##
continuation segmentation (BERT convention: merge keeps the left
symbol's prefix), the likelihood objective actually differing from BPE's
count objective on a corpus built to separate them, the HF whole-word
[UNK] contract in greedy encoding, and encode-stats replay equality.
"""

from __future__ import annotations

import pytest

from image_pdf_ocr_suite_spark.analytics import bpe, wordpiece as wp

TEXTS = [
    ("en", "low lower lowest low low"),
    ("en", "new newer newest new"),
    ("en", "wider wide wide new"),
    ("ja", "低い 低い 広い"),
    ("en", None),
    ("en", ""),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(TEXTS, "lang string, text string")


def _word_freq() -> dict[str, int]:
    return bpe.replay_word_freq([t for _, t in TEXTS])


def test_segment_continuation_convention():
    assert wp._segment("abc", []) == ["a", "##b", "##c"]
    # merge keeps the left prefix and strips the right's ##
    assert wp._merge_symbol("a", "##b") == "ab"
    assert wp._merge_symbol("##b", "##c") == "##bc"
    assert wp._segment("abc", [("a", "##b")]) == ["ab", "##c"]
    assert wp._segment("abc", [("##b", "##c")]) == ["a", "##bc"]
    # rank order: ('a','##b') then ('ab','##c') builds the full word
    assert wp._segment("abc", [("a", "##b"), ("ab", "##c")]) == ["abc"]
    # single char: no continuation symbols
    assert wp._segment("x", []) == ["x"]


# words whose symbols a SQL string literal must escape: quotes,
# backslashes (incl. escape-looking sequences), ##, CJK, emoji
HOSTILE_TEXTS = [("en", "it's it's don't a\\b a\\b \\u0041 \\u0041"),
                 ("en", "x##y x##y 日本日本 😀😀 😀😀 it's")]


def test_train_matches_replay(spark, docs_df):
    # driver_max_vocab=0 forces the DISTRIBUTED rounds — the equivalence
    # pin must not degenerate to replay-vs-replay under the counted
    # driver fast path (round 6); the hostile corpus runs its symbols
    # through the per-round symbol-map literal
    hostile = spark.createDataFrame(HOSTILE_TEXTS, "lang string, text string")
    for df, texts in ((docs_df, TEXTS), (hostile, HOSTILE_TEXTS)):
        trained = wp.wordpiece_train(df, n_merges=8, driver_max_vocab=0)
        expected = wp.replay_train(
            bpe.replay_word_freq([t for _, t in texts]), n_merges=8)
        assert trained == expected
        # the auto fast path (bounded vocab -> driver replay) must agree
        assert wp.wordpiece_train(df, n_merges=8) == expected
        assert len(trained) == 8
        assert all(p >= 1 and lc >= p and rc >= p
                   for _, _, p, lc, rc in trained)


# symbols for the map literal itself, incl. the empty and blank keys
HOSTILE_SYMBOLS = ["it's", "'", "\\", "\\'", "a\\nb", "\\u0041", "##",
                   "##ing", "日本", "😀", "##😀", "", " "]


def test_map_lit_matches_create_map(spark):
    from pyspark.sql import functions as F

    from image_pdf_ocr_suite_spark.analytics.lits import map_lit

    items = [(s, i * 1000003) for i, s in enumerate(HOSTILE_SYMBOLS)]
    ref = F.create_map(*[x for k, v in items for x in (F.lit(k), F.lit(v))])
    keys = spark.createDataFrame([(k,) for k, _ in items] + [("absent",)],
                                 "k string")
    got = keys.select("k", F.element_at(map_lit(items), F.col("k")).alias("a"),
                      F.element_at(ref, F.col("k")).alias("b")).collect()
    assert all(r["a"] == r["b"] for r in got), got
    assert spark.range(1).select(map_lit(items).alias("m")).first()["m"] \
        == dict(items)


def test_objective_is_likelihood_not_count():
    # A corpus where the most FREQUENT pair is not the best-SCORING
    # pair: 'ab' appears often but both 'a' and '##b' are very common
    # elsewhere, while 'xy' is rarer but exclusive.
    # pairs: (a,##a)=10, (b,##b)=10 (count winners, score 10/150) vs
    # (x,##y)=3 (score 3/9 — exclusive symbols, likelihood winner)
    wf = {"ab": 5, "aa": 10, "bb": 10, "xy": 3}
    trained = wp.replay_train(wf, n_merges=1)
    (left, right, p, lc, rc) = trained[0]
    # recompute all pair scores by hand
    sym_n: dict[str, int] = {}
    pair_n: dict[tuple[str, str], int] = {}
    for w, f in wf.items():
        sym = wp._segment(w, [])
        for s in sym:
            sym_n[s] = sym_n.get(s, 0) + f
        for a, b in zip(sym, sym[1:]):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + f
    best_by_score = min(
        pair_n, key=lambda k: (-wp._score(pair_n[k], sym_n[k[0]],
                                          sym_n[k[1]]), k))
    best_by_count = max(pair_n, key=lambda k: pair_n[k])
    assert (left, right) == best_by_score
    assert best_by_score != best_by_count  # the corpus separates them


def test_greedy_encode_longest_match_and_unk():
    vocab = {"u", "##n", "un", "##aff", "##able", "##a", "##f",
             "##b", "##l", "##e", "a"}
    # longest-match-first: 'un' beats 'u'
    assert wp.greedy_encode("unaffable", vocab, 5) == \
        ["un", "##aff", "##able"]
    # any failure UNKs the WHOLE word (HF contract)
    assert wp.greedy_encode("unz", vocab, 5) == [wp.UNK]
    assert wp.greedy_encode("a", vocab, 5) == ["a"]


def test_corpus_alphabet_matches_replay(spark, docs_df):
    assert wp.corpus_alphabet(docs_df) == \
        wp.replay_alphabet([t for _, t in TEXTS])


def test_encode_stats_matches_replay(spark, docs_df):
    trained = wp.replay_train(_word_freq(), n_merges=8)
    alphabet = wp.replay_alphabet([t for _, t in TEXTS])
    got = {r["lang"]: (r["n_docs"], r["n_words"], r["n_pieces"],
                       r["n_unk_words"])
           for r in wp.encode_token_stats(docs_df, trained,
                                          alphabet).collect()}
    want = wp.replay_encode_stats([(g, t) for g, t in TEXTS],
                                  trained, alphabet)
    assert got == want
    # sanity: ja corpus fully in-alphabet → no UNKs
    assert want["ja"][3] == 0


def test_unk_counted_for_out_of_alphabet(spark):
    df = spark.createDataFrame([("en", "ab zq")], "lang string, text string")
    trained = wp.replay_train({"ab": 1, "zq": 1}, n_merges=1)
    # alphabet deliberately missing 'q' → 'zq' cannot segment
    stats = wp.replay_encode_stats([("en", "ab zq")], trained,
                                   {"a", "b", "z"})
    n_docs, n_words, n_pieces, n_unk = stats["en"]
    assert (n_docs, n_words, n_unk) == (1, 2, 1)
    got = {r["lang"]: (r["n_docs"], r["n_words"], r["n_pieces"],
                       r["n_unk_words"])
           for r in wp.encode_token_stats(df, trained,
                                          {"a", "b", "z"}).collect()}
    assert got["en"] == stats["en"]


def test_score_quantization_table(spark):
    trained = wp.replay_train(_word_freq(), n_merges=3)
    tbl = wp.vocab_table(spark, trained).collect()
    assert [r["rank"] for r in tbl] == [1, 2, 3]
    import math
    for r, (left, right, p, lc, rc) in zip(tbl, trained):
        assert r["left"] == left and r["right"] == right
        assert r["piece"] == wp._merge_symbol(left, right)
        assert r["score_q"] == int(
            math.floor(wp._score(p, lc, rc) * wp.SCORE_SCALE))
