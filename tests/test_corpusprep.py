"""Corpus-prep operators: decontamination, URL canonicalization, PII
redaction, line-level dedup (analytics/corpusprep.py) — semantics edge
cases plus plan-shape gates (map-only where claimed, broadcast probe for
the decontamination join, digest-only window shuffle for line dedup)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.analytics import corpusprep


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# -- decontamination --------------------------------------------------------

def test_decontaminate_flags_overlapping_docs(spark):
    corpus = _docs(spark, [
        (0, "a b c d e f"),          # test doc itself
        (1, "x a b c d e y"),        # shares 5-gram "a b c d e"
        (2, "totally different words here now"),
        (3, ""),                     # empty: no grams
    ])
    test = corpus.where(F.col("doc_id") == 0)
    out = {r["doc_id"]: r["n_shared"]
           for r in corpusprep.decontaminate_ngrams(corpus, test, n=5).collect()}
    # doc 0: grams "a b c d e" and "b c d e f" both shared with itself
    assert out == {0: 2, 1: 1}


def test_decontaminate_counts_distinct_grams_once(spark):
    corpus = _docs(spark, [(0, "a b a b a b a b")])  # repeating 2-grams
    out = corpusprep.decontaminate_ngrams(corpus, corpus, n=2).collect()
    # only two DISTINCT 2-grams exist: "a b" and "b a"
    assert out[0]["n_shared"] == 2


def test_decontaminate_arrow_matches_catalyst(spark):
    """The md5 gram join and the set probe both emit the rows the
    retired pure-Catalyst HOF spelling emitted here (recorded) — incl.
    multi-space runs, a tab inside a token (split contract is
    single-space), short docs, null and empty text."""
    corpus = _docs(spark, [
        (0, "a  b c d e f"),            # double space -> empty dropped
        (1, "x a b c d e y"),
        (2, "tab\tinside token a b c d"),  # \t is NOT a separator
        (3, "a b c d"),                 # shorter than n
        (4, None), (5, ""),
    ])
    test = corpus.where(F.col("doc_id") < 2)
    a = sorted(map(tuple, corpusprep.decontaminate_ngrams(
        corpus, test, n=5).collect()))
    assert a == [(0, 2), (1, 3)]
    # the zero-hash set-probe path (funnel-scaling floor-stage fix,
    # BENCH/BASELINE.md 2026-08-18) is row-identical too
    p = sorted(map(tuple, corpusprep.decontaminate_ngrams(
        corpus, test, n=5, impl="probe").collect()))
    assert p == a
    import pytest as _pytest
    with _pytest.raises(ValueError):
        corpusprep.decontaminate_ngrams(
            corpus, n=5, impl="probe",
            test_grams=corpusprep.test_gram_table(test, n=5))


def test_decontaminate_precomputed_grams_and_arg_guard(spark):
    import pytest as _pytest
    corpus = _docs(spark, [(0, "a b c d e f"), (1, "x a b c d e y"),
                           (2, "unrelated words entirely here now")])
    test = corpus.where(F.col("doc_id") == 0)
    direct = sorted(map(tuple, corpusprep.decontaminate_ngrams(
        corpus, test, n=5).collect()))
    grams = corpusprep.test_gram_table(test, n=5)
    pre = sorted(map(tuple, corpusprep.decontaminate_ngrams(
        corpus, n=5, test_grams=grams).collect()))
    assert direct == pre and len(pre) == 2
    with _pytest.raises(ValueError):
        corpusprep.decontaminate_ngrams(corpus, test, test_grams=grams)
    with _pytest.raises(ValueError):
        corpusprep.decontaminate_ngrams(corpus)


def test_decontaminate_broadcasts_test_side(spark):
    corpus = _docs(spark, [(0, "a b c d e")])
    plan = corpusprep.decontaminate_ngrams(corpus, corpus, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# -- URL canonicalization ---------------------------------------------------

def test_canonicalize_urls_cases(spark):
    rows = [(0, "HTTPS://WWW.Example.COM/A/B/?q=1"),
            (1, "http://example.com/a/b#frag"),
            (2, "https://sub.Example.com/"),
            (3, "https://example.com"),
            (4, "ftp://Files.example.com/pub//"),
            (5, "example.com/no-scheme"),      # malformed: NULLs, not ''
            (6, "file:///local/path")]         # empty host: also malformed
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: (r["url_canon"], r["domain"])
           for r in corpusprep.canonicalize_urls(df).collect()}
    assert out[5] == (None, None) and out[6] == (None, None)
    assert out[0] == ("https://example.com/A/B", "example.com")
    assert out[1] == ("http://example.com/a/b", "example.com")
    assert out[2] == ("https://sub.example.com", "sub.example.com")
    assert out[3] == ("https://example.com", "example.com")
    assert out[4] == ("ftp://files.example.com/pub", "files.example.com")


def test_canonicalize_is_map_only(spark):
    df = spark.createDataFrame([(0, "https://a.com/x")], "doc_id long, url string")
    plan = corpusprep.canonicalize_urls(df) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_domain_stats_counts(spark):
    rows = [(0, "https://a.com/x"), (1, "https://WWW.a.com/x/"),
            (2, "https://a.com/y"), (3, "https://b.com/")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["domain"]: (r["n_docs"], r["n_urls"])
           for r in corpusprep.domain_stats(
               corpusprep.canonicalize_urls(df)).collect()}
    # docs 0 and 1 canonicalize to the SAME url
    assert out == {"a.com": (3, 2), "b.com": (1, 1)}


# -- PII redaction ----------------------------------------------------------

def test_redact_pii_all_categories(spark):
    df = _docs(spark, [
        (0, "mail a.b@x.co.uk or ping 10.0.3.250 then call +1-415-555-0042 ok"),
        (1, "no pii here"),
    ])
    out = {r["doc_id"]: r for r in corpusprep.redact_pii(df).collect()}
    assert out[0]["redacted_text"] == \
        "mail <EMAIL> or ping <IP> then call <PHONE> ok"
    assert (out[0]["n_email"], out[0]["n_phone"], out[0]["n_ip"]) == (1, 1, 1)
    assert out[1]["redacted_text"] == "no pii here"
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ip"]) == (0, 0, 0)


def test_redact_pii_email_before_ip(spark):
    # digits-and-dots inside an email local/domain must NOT become <IP>
    df = _docs(spark, [(0, "contact 1.2.3.4@mail.example.com please")])
    row = corpusprep.redact_pii(df).collect()[0]
    assert row["redacted_text"] == "contact <EMAIL> please"
    assert (row["n_email"], row["n_ip"]) == (1, 0)


def test_redact_pii_is_map_only(spark):
    df = _docs(spark, [(0, "x")])
    plan = corpusprep.redact_pii(df) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# -- rare-token ratio -------------------------------------------------------

def test_rare_token_ratio_exact(spark):
    df = _docs(spark, [
        (0, "common common common weird1"),   # weird1 appears once
        (1, "common weird2"),
        (2, ""),                              # token-less
    ])
    out = {r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_ratio"])
           for r in corpusprep.rare_token_ratio(df, min_count=2).collect()}
    assert out[0] == (4, 1, 0.25)
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (0, 0, 0.0)


def test_rare_token_ratio_broadcasts_common_side(spark):
    # The broadcast relation must be the COMMON vocab (freq >= min_count):
    # broadcasting the rare side ships the unbounded Zipf hapax tail.
    df = _docs(spark, [(0, "a b c")])
    plan = corpusprep.rare_token_ratio(df, min_count=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert re.search(r"__c#\d+L? >= 3", plan), plan
    assert not re.search(r"__c#\d+L? < 3", plan), plan


# -- token-budget sampling --------------------------------------------------

def test_token_budget_sample_quota_and_straddler(spark):
    # single shard: pure md5-order walk; budget 5 tokens
    rows = [(i, " ".join(["w"] * 3), "en") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = corpusprep.token_budget_sample(df, budget_tokens=5, n_shards=1)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 3-token docs: first doc starts at 0 (<5, kept), second at 3 (<5,
    # kept — straddles), third at 6 (>=5, dropped): exactly 2 kept
    assert len(ids) == 2
    # deterministic: same answer on a different partitioning
    ids2 = sorted(r["doc_id"] for r in corpusprep.token_budget_sample(
        df.repartition(7), budget_tokens=5, n_shards=1).collect())
    assert ids == ids2


def test_token_budget_sample_per_stratum(spark):
    rows = [(0, "a b", "en"), (1, "c d", "ja")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = corpusprep.token_budget_sample(df, budget_tokens=100, n_shards=1)
    assert {(r["doc_id"], r["lang"], r["n_tokens"]) for r in out.collect()} \
        == {(0, "en", 2), (1, "ja", 2)}


# -- context-window packing -------------------------------------------------

def test_pack_chunks_bin_assignment(spark):
    # single shard (n_shards=1): pure sequential packing semantics
    rows = [(0, 0, 100), (0, 1, 100), (0, 2, 100),  # bins 0,0,0 (starts 0,100,200)
            (1, 0, 100), (1, 1, 50)]                # starts 300,400 -> bins 1,1
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, chunk_tokens long")
    out = {(r["shard"], r["bin_id"]): (r["n_chunks"], r["n_tokens"], r["fill_ratio"])
           for r in corpusprep.pack_chunks(chunks, capacity=256,
                                           n_shards=1).collect()}
    assert out == {(0, 0): (3, 300, 300 / 256.0), (0, 1): (2, 150, 150 / 256.0)}


def test_pack_chunks_deterministic_across_partitionings(spark):
    rows = [(i, j, 30 + (i * 7 + j) % 40) for i in range(20) for j in range(3)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, chunk_tokens long")
    a = sorted(map(tuple, corpusprep.pack_chunks(chunks, 128, 4).collect()))
    b = sorted(map(tuple, corpusprep.pack_chunks(
        chunks.repartition(13), 128, 4).collect()))
    assert a == b and len(a) > 4


def test_pack_chunks_no_global_window(spark):
    chunks = spark.createDataFrame(
        [(0, 0, 10)], "doc_id long, chunk_idx int, chunk_tokens long")
    plan = corpusprep.pack_chunks(chunks, 256, 8) \
        ._jdf.queryExecution().executedPlan().toString()
    # window partitions on shard — never SinglePartition (the global-cumsum
    # trap that serializes at scale)
    assert "Exchange hashpartitioning(shard" in plan
    assert "Exchange SinglePartition" not in plan


# -- line-level dedup -------------------------------------------------------

def test_split_token_lines_shape(spark):
    df = _docs(spark, [(0, "a b c d e"), (1, "")])
    out = [(r["doc_id"], r["line_no"], r["line"])
           for r in corpusprep.split_token_lines(df, tokens_per_line=2)
           .orderBy("doc_id", "line_no").collect()]
    assert out == [(0, 0, "a b"), (0, 1, "c d"), (0, 2, "e")]


def test_line_dedup_first_occurrence_wins(spark):
    rows = [(0, 0, "boiler"), (0, 1, "unique-a"),
            (1, 0, "boiler"), (1, 1, "unique-b"),
            (2, 0, "boiler"), (2, 1, "boiler")]
    lines = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    out = {r["doc_id"]: (r["n_lines"], r["n_kept"])
           for r in corpusprep.line_dedup_stats(lines).collect()}
    # doc 0 keeps both; docs 1/2 lose every "boiler" repeat
    assert out == {0: (2, 2), 1: (2, 1), 2: (2, 0)}


def test_line_dedup_shuffle_carries_digest_not_text(spark):
    lines = spark.createDataFrame([(0, 0, "x")],
                                  "doc_id long, line_no int, line string")
    plan = corpusprep.line_dedup_stats(lines) \
        ._jdf.queryExecution().executedPlan().toString()
    # the window exchange partitions on the md5 attribute; the raw line
    # column is projected away below it (appears only under the scan side)
    assert "Exchange hashpartitioning(__h" in plan
    below_exchange = plan.split("Exchange hashpartitioning(__h", 1)[1]
    assert "md5(cast(line" in below_exchange  # digest computed pre-shuffle
    # identical duplicate doc texts across docs: all lines dedup to doc 0
    big = spark.createDataFrame(
        [(i, j, f"line-{j}") for i in range(3) for j in range(4)],
        "doc_id long, line_no int, line string")
    out = {r["doc_id"]: (r["n_lines"], r["n_kept"])
           for r in corpusprep.line_dedup_stats(big).collect()}
    assert out == {0: (4, 4), 1: (4, 0), 2: (4, 0)}
