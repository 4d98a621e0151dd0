"""Text-analysis operators for training-data pipelines.

Catalyst expressions (whole-stage codegen; no Python) wherever the
interpreted cost allows, all designed to be replicable in ANSI SQL for
the DuckDB oracle:

- token counting (whitespace arithmetic — identical in both engines),
- quality scoring (length / token-length / uppercase ratios),
- language-ID heuristic (stopword hits),
- document fingerprinting (md5 over whitespace-normalized, lowercased text).

Winnowing hashes one md5 per character position, so it runs as an Arrow
kernel over the distinct k-grams of each batch; the oracle checks that
kernel directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def token_array_expr(text_col: str = "text"):
    """Whitespace-split token array (empty strings dropped) — THE shared
    tokenization every corpus operator and its SQL oracle mirror
    (``list_filter(string_split(text, ' '), x -> x <> '')``).

    Round 6 spelling: ``array_remove(split(text, ' '), '')`` — removes
    ALL empty elements, exactly the old ``filter(x -> x != '')``
    (equality pinned in tests/test_unicode_and_buckets.py), but
    array_remove is an ordinary codegen'd expression while ``filter``
    is a Catalyst higher-order function that evaluates INTERPRETED per
    element (the round-2 HOF rule) in every tokenize-bearing operator.
    """
    return F.array_remove(F.split(F.col(text_col), " "), F.lit(""))


def md5_bucket_expr(id_col: str, n_buckets: int):
    """Deterministic cross-engine bucket of an id column: first 4 md5-hex
    chars as an integer, mod ``n_buckets`` — reproducible across runs,
    engines, and partitionings.  SQL twin:
    ``CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4) AS INTEGER)
    % n`` — changing either side's arithmetic requires changing BOTH."""
    ids = F.col(id_col).cast("string")
    return (F.conv(F.substring(F.md5(ids), 1, 4), 16, 10).cast("long")
            % n_buckets)


def token_count_expr(text_col: str = "text"):
    """Whitespace-separated token count via length arithmetic (portable:
    LENGTH(t) - LENGTH(REPLACE(t, ' ', '')) + 1 for non-empty text)."""
    t = F.col(text_col)
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    return F.when(F.length(t) > 0, spaces + 1).otherwise(F.lit(0))


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    # bigint: SQL engines' length() is 64-bit; keep schemas aligned
    return df.select(F.col(id_col),
                     token_count_expr(text_col).cast("bigint").alias("n_tokens"))


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_tokens, avg_token_len, space_ratio) — cheap quality
    signals for corpus filtering.

    Ratios are RAW doubles: rounding policy belongs to the query layer
    (cross-engine rule: FLOOR(x*1e4+0.5)/1e4, never engine ROUND — Spark's
    BigDecimal HALF_UP and DuckDB's double ROUND disagree at .5 boundaries)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_expr(text_col)
    non_space = n_chars - (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))))
    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.try_divide(non_space.cast("double"), n_tokens.cast("double"))
        .alias("avg_token_len"),
        F.try_divide((n_chars - non_space).cast("double"), n_chars.cast("double"))
        .alias("space_ratio"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language heuristic (n-gram-style, portable to SQL)."""
    t = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    def hits(w):
        return (F.length(t) - F.length(F.replace(t, F.lit(f" {w} "), F.lit("")))) \
            / (F.length(F.lit(f" {w} ")))
    en_score = hits("the") + hits("a") + hits("and") + hits("of")
    pred = F.when(en_score >= 1, F.lit("en")).otherwise(F.lit("other"))
    return df.select(F.col(id_col), en_score.cast("int").alias("en_score"),
                     pred.alias("pred_lang"))


def classify_script(texts) -> list:
    """The script-classifier core over an iterable of strings (None/""
    -> "unknown") — the single definition shared by ``script_lang_udf``
    and kernels that fuse lang-ID into an existing Arrow stage (e.g.
    jobs/crawl_ingest_job's decode+strip kernel, which fuses it to
    avoid a second Python crossing per page)."""
    import numpy as np

    out = []
    for t in texts:
        if not t:
            out.append("unknown")
            continue
        cp = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
        n = len(cp)
        kana = (((cp >= 0x3040) & (cp <= 0x30FF)) | ((cp >= 0xFF66) & (cp <= 0xFF9D))).sum()
        cjk = ((cp >= 0x4E00) & (cp <= 0x9FFF)).sum()
        hangul = (((cp >= 0xAC00) & (cp <= 0xD7AF)) | ((cp >= 0x1100) & (cp <= 0x11FF))).sum()
        cyr = ((cp >= 0x0400) & (cp <= 0x04FF)).sum()
        latin = (((cp >= 0x41) & (cp <= 0x5A)) | ((cp >= 0x61) & (cp <= 0x7A))).sum()
        scores = {"ja": kana + 0.5 * cjk, "zh": cjk * (0.9 if kana == 0 else 0.0),
                  "ko": hangul, "ru": cyr, "en": latin * 0.5}
        best, val = max(scores.items(), key=lambda kv: (kv[1], kv[0]))
        out.append(best if val >= max(1.0, 0.05 * n) else "unknown")
    return out


def script_lang_udf():
    """The script-classifier as a reusable pandas_udf column expression
    (so composed jobs can ``withColumn`` it without a join that would
    recompute an upstream kernel branch).  See ``lang_id_script``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _classify(texts):
        return pd.Series(classify_script(texts))

    _classify.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_classify, "string")


def lang_id_script(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Script-based language ID for Common-Crawl text: classify by Unicode
    block ratios (kana/CJK -> ja-or-zh split by kana share, hangul -> ko,
    cyrillic -> ru, latin -> en-family).  Arrow-vectorized numpy over
    codepoints — the real-world first-pass filter before a model-based
    identifier; deterministic."""
    return df.select(F.col(id_col),
                     script_lang_udf()(F.col(text_col)).alias("script_lang"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized content fingerprint: md5(lower(whitespace-collapsed)).
    Unicode whitespace class (Java \\s misses U+3000/NBSP and RE2 \\s
    additionally misses VT — the explicit class is identical in both
    engines)."""
    from image_pdf_ocr_suite_spark.unicode_ws import RUNS_PATTERN
    norm = F.lower(F.regexp_replace(F.col(text_col), RUNS_PATTERN, " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


# BPE-ish pre-tokenizer classes (GPT-2-style simplification, portable
# RE2/Java subset): letter runs | digit runs | single non-space symbol.
# Whitespace spelled as an explicit ASCII class: Java's \s includes \x0B
# but RE2's does not — an explicit class makes both engines identical.
BPE_TOKEN_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N} \t\n\x0B\f\r]"


def token_count_bpe(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """LM-style token estimate: count of BPE-ish pre-tokenizer matches
    (letter runs, digit runs, single symbols).  Pure Catalyst
    (regexp_count, whole-stage codegen); the same RE2-compatible pattern
    runs verbatim in the DuckDB oracle."""
    return df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN))
        .cast("bigint").alias("n_bpe_tokens"))


def nfc_normalize(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Unicode NFC normalization (corpus canonicalization before dedup /
    tokenization).  Spark SQL has no normalization builtin, so this is an
    Arrow-batched kernel over ``unicodedata``; NFC is standard-defined,
    so any correct implementation (e.g. DuckDB's nfc_normalize oracle)
    produces identical bytes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(texts):
        # pandas' vectorized normalizer (null-propagating)
        return texts.str.normalize("NFC")

    _nfc.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    udf = pandas_udf(_nfc, "string")
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("nfc_text"))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 50,
                    overlap: int = 10) -> DataFrame:
    """Split documents into overlapping token windows — the LM-training
    chunking step (context-window packing happens downstream).  Pure
    Catalyst, map-only: tokenize once into an attribute (HOF-re-eval
    trap), generate window starts with ``sequence``, slice + join per
    start.  (id, chunk_idx, chunk_text, chunk_tokens); empty docs emit no
    chunks.  At scale this is a flatMap on the scan — no shuffle."""
    assert 0 < overlap < chunk_tokens
    step = chunk_tokens - overlap
    toks = token_array_expr(text_col)
    base = df.select(F.col(id_col), toks.alias("__toks")) \
             .select(F.col(id_col), F.col("__toks"),
                     F.size("__toks").alias("__n"))
    # last start capped at n - overlap: a start beyond that yields a chunk
    # whose tokens are ALL inside the previous chunk (pure duplicate
    # training data, hit whenever n mod step lands in [1, overlap]);
    # coverage stays total (last chunk reaches >= n by construction)
    starts = F.when(
        F.col("__n") >= 1,
        F.sequence(F.lit(1),
                   F.greatest(F.col("__n") - overlap, F.lit(1)),
                   F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    ex = base.select(F.col(id_col), F.col("__toks"), F.col("__n"),
                     F.explode(starts).alias("__start"))
    return ex.select(
        F.col(id_col),
        ((F.col("__start") - 1) / F.lit(step)).cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__start"),
                                 chunk_tokens)).alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start") + 1)
        .cast("bigint").alias("chunk_tokens"))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Repetition-ratio quality signal (C4-style): share of the document
    occupied by its single most frequent token.  Boilerplate, navigation
    spam, and degenerate generations score high; clean prose scores low.
    (id, n_tokens, top_token_n, rep_ratio) — ratio is exact int/int
    division; token-less docs report 0/0/0.0.  Two hash aggregates on
    (id, token) then (id): partial combine keeps the shuffle at
    distinct-token cardinality."""
    toks = token_array_expr(text_col)
    tok = df.select(F.col(id_col), F.explode(toks).alias("__tok"))
    per = tok.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    agg = per.groupBy(id_col).agg(
        F.max("__c").alias("top_token_n"),
        F.sum("__c").alias("n_tokens"))
    # left join back so token-less documents keep a row
    ids = df.select(F.col(id_col))
    out = ids.join(agg, id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("top_token_n"), F.lit(0)).cast("bigint").alias("top_token_n"),
        F.coalesce(F.col("top_token_n").cast("double")
                   / F.col("n_tokens"), F.lit(0.0)).alias("rep_ratio"))


def stratified_sample(df: DataFrame, rates: dict[str, int],
                      strata_col: str = "lang", id_col: str = "doc_id",
                      default_pct: int = 100) -> DataFrame:
    """Deterministic hash-based stratified sampling — corpus rebalancing
    (e.g. downsample dominant languages).  Keep a row iff
    md5(id) mod 100 < pct(stratum): reproducible across runs, engines,
    and partitionings (no RNG state), and expressible in the SQL oracle
    (the same md5-prefix arithmetic).  ``rates`` maps stratum -> percent
    kept.  Map-only: the decision is a scan-side predicate."""
    bucket = md5_bucket_expr(id_col, 100)
    pct = F.lit(default_pct)
    for val, p in sorted(rates.items()):
        pct = F.when(F.col(strata_col) == val, F.lit(p)).otherwise(pct)
    return df.where(bucket < pct)


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    rolling-hash scheme MOSS uses): hash every k-gram of the
    whitespace-normalized lowercased text, slide a window of ``w`` hashes,
    keep each window's minimum — near-identical documents share most
    selected fingerprints even after local edits.  Output (id, fp) — the
    distinct selected fingerprints per document; documents with fewer
    than ``w`` k-grams keep them all.

    The k-gram hash is md5 over the character substring (fixed-width hex
    compares like the 128-bit integer, the same portability trick as the
    MinHash), so the DuckDB oracle restates it directly.  The whitespace
    normalization stays a JVM codegen ``regexp_replace`` (the
    cross-engine ``\\x{..}`` class is Java/RE2 syntax, not Python); an
    Arrow kernel then hashes each DISTINCT k-gram of the batch once and
    takes sliding-window minima with vectorized ``np`` comparisons — one
    interpreted md5 per character position hits the shared-JVM GC wall
    at scale (see PLANS.md, minhash)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from image_pdf_ocr_suite_spark.unicode_ws import RUNS_PATTERN

    id_type = df.schema[id_col].dataType.simpleString()
    norm = F.lower(F.regexp_replace(F.col(text_col), RUNS_PATTERN, " "))
    pre = df.select(F.col(id_col), norm.alias("__t"))

    def kernel(batches):
        from image_pdf_ocr_suite_spark.analytics.hashkernels import (
            iter_flat_chunks)
        for pdf in batches:
            ids, gram_lists = [], []
            for i, t in zip(pdf[id_col], pdf["__t"]):
                if not isinstance(t, str) or len(t) < k:
                    continue
                gram_lists.append([t[j:j + k] for j in range(len(t) - k + 1)])
                ids.append(i)
            for cids, lens, flat in iter_flat_chunks(ids, gram_lists):
                codes, uniques = pd.factorize(flat)
                digests = [hashlib.md5(u.encode()).digest() for u in uniques]
                uhex = np.array([d.hex() for d in digests], dtype=object)
                # hex-lexicographic order == big-endian 128-bit numeric
                # order: compare as (hi, lo) uint64 pairs (numpy has no
                # byte-string minimum ufunc)
                packed = np.frombuffer(b"".join(digests),
                                       dtype=">u8").reshape(-1, 2)
                hi_u, lo_u = (packed[:, 0].astype(np.uint64),
                              packed[:, 1].astype(np.uint64))
                hi, lo = hi_u[codes], lo_u[codes]
                offs = np.concatenate([[0], np.cumsum(lens)])
                out_id, out_fp = [], []
                for row in range(len(cids)):
                    s0, e0 = int(offs[row]), int(offs[row + 1])
                    n = e0 - s0
                    if n >= w:
                        base = s0 + np.arange(n - w + 1)
                        best = base.copy()
                        for s in range(1, w):
                            cand = base + s  # window j's s-th member
                            better = ((hi[cand] < hi[best])
                                      | ((hi[cand] == hi[best])
                                         & (lo[cand] < lo[best])))
                            best = np.where(better, cand, best)
                        sel = codes[best]
                    else:
                        sel = codes[s0:e0]  # fewer than w k-grams: keep all
                    for fp in set(uhex[sel]):
                        out_id.append(cids[row])
                        out_fp.append(fp)
                yield pd.DataFrame({id_col: out_id, "fp": out_fp})

    # the in-kernel set() dedups within one input row; the distinct
    # matches the oracle contract GLOBALLY (duplicate id rows,
    # chunk boundaries) — it shuffles already per-row-deduped slivers
    return pre.mapInPandas(
        kernel, schema=f"{id_col} {id_type}, fp string").distinct()


def bm25_scores(df: DataFrame, query_terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 relevance of every document against a literal query —
    the corpus-quality / retrieval scoring primitive of a training-data
    pipeline (rank documents against seed queries, mine hard negatives,
    filter topical slices).

    Scale shape — the whole operator has NO data-sized shuffle:

    - per-term term frequencies come from ``F.size(F.filter(tokens, ..))``
      over the already-split token array — map-only, one pass, no explode;
    - corpus statistics (N, total token count, per-term document
      frequencies) reduce through ONE global aggregate whose rows are
      ~len(query_terms) numbers (map-side partial combine), broadcast
      back with a crossJoin;
    - the final score is a map-only projection.

    Determinism: tf/dl/df/N are exact integers; avgdl = total_dl / N is
    one exact IEEE division; per-term contributions add in FIXED literal
    term order (never a float sum over an unordered group), so the only
    cross-engine wobble is ``ln`` (<= 1 ulp between libm and the JVM) —
    the driver oracle rounds at 1e-4 like every accumulated float here.
    Returns ``(id, n_terms_hit, score)``.
    """
    # dedupe terms, keep first occurrence order (the summation order)
    terms: list[str] = []
    for t in query_terms:
        if t not in terms:
            terms.append(t)
    if not terms:
        # guard early (ADVICE r4): an empty term list would build
        # contrib(0) against a nonexistent __tf_0 column and surface as
        # an opaque AnalysisException at execution time
        raise ValueError("query_terms must be non-empty")
    toks = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                    lambda x: x != "")

    def _eq(term: str):
        # single-parameter closure: a two-parameter lambda would be
        # interpreted by F.filter as (element, index)
        return lambda x: x == F.lit(term)

    base = df.select(
        F.col(id_col),
        F.size(toks).alias("__dl"),
        *[F.size(F.filter(toks, _eq(t))).alias(f"__tf_{i}")
          for i, t in enumerate(terms)])
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[F.sum(F.when(F.col(f"__tf_{i}") > 0, 1).otherwise(0))
          .alias(f"__df_{i}") for i in range(len(terms))])
    joined = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    denom_tail = F.lit(k1) * (F.lit(1.0 - b)
                              + F.lit(b) * (F.col("__dl").cast("double")
                                            / avgdl))

    def contrib(i: int):
        tf = F.col(f"__tf_{i}").cast("double")
        dfreq = F.col(f"__df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (F.col("__n").cast("double") - dfreq
                                  + F.lit(0.5)) / (dfreq + F.lit(0.5)))
        return idf * (tf * F.lit(k1 + 1.0)) / (tf + denom_tail)

    score = contrib(0)
    for i in range(1, len(terms)):
        score = score + contrib(i)          # fixed literal order
    hits = sum((F.col(f"__tf_{i}") > 0).cast("int")
               for i in range(len(terms)))
    return joined.select(
        F.col(id_col),
        hits.cast("int").alias("n_terms_hit"),
        score.alias("score"))


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Published Gopher document-quality rules (Rae et al. 2021, app. A —
    the standard web-corpus pre-filter) as integer-exact per-doc stats
    plus the composite verdict:

    ``(id, n_words, sum_word_len, n_lines, n_bullet_lines,
    n_ellipsis_lines, n_alpha_words, n_symbol_units, n_stop_hits,
    gopher_pass int)``

    Every ratio rule is decided by integer cross-multiplication
    (``3*n_words <= sum_word_len <= 10*n_words`` etc.), never float
    division, so the SQL oracle hashes identically.  Rules:
    50 <= words <= 100k; mean word length in [3, 10]; symbol units
    ('#', '...', '…') <= words/10; bullet-led lines <= 90%;
    ellipsis-ended lines <= 30%; >= 80% of words contain a letter;
    >= 2 distinct Gopher stop words present.

    Scale shape: map-only Catalyst over the shared single-space token
    contract (``token_array_expr``); the token and line arrays are
    materialized once per row before the higher-order lambdas
    (CLAUDE.md round-2 rule); no shuffle, no Python."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    step = df.select(
        F.col(id_col), t.alias("__t"),
        F.filter(F.split(t, " "), lambda x: x != "").alias("__toks"),
        F.split(t, "\n").alias("__lines"))

    tl = F.col("__t")
    n_words = F.size("__toks").cast("bigint")
    # under split(' '), the concatenated token length IS the non-space
    # char count — string arithmetic instead of an interpreted lambda sum
    sum_word_len = F.length(F.replace(tl, F.lit(" "), F.lit(""))).cast("bigint")
    n_lines = F.size("__lines").cast("bigint")
    n_bullet = F.size(F.filter(
        F.col("__lines"), lambda ln: ln.rlike("^[-•*] "))).cast("bigint")
    n_ellip = F.size(F.filter(
        F.col("__lines"), lambda ln: ln.rlike("(\\.\\.\\.|…)$"))).cast("bigint")
    n_alpha = F.size(F.filter(
        F.col("__toks"), lambda x: x.rlike("[A-Za-z]"))).cast("bigint")
    hash_cnt = F.length(tl) - F.length(F.replace(tl, F.lit("#"), F.lit("")))
    dots_cnt = ((F.length(tl)
                 - F.length(F.replace(tl, F.lit("..."), F.lit("")))) / 3
                ).cast("bigint")
    uell_cnt = F.length(tl) - F.length(F.replace(tl, F.lit("…"), F.lit("")))
    n_symbols = (hash_cnt.cast("bigint") + dots_cnt
                 + uell_cnt.cast("bigint"))
    ltoks = F.transform(F.col("__toks"), lambda x: F.lower(x))
    n_stop = sum(
        (F.array_contains(ltoks, w).cast("bigint")
         for w in GOPHER_STOP_WORDS),
        start=F.lit(0).cast("bigint"))

    s = step.select(
        F.col(id_col),
        n_words.alias("n_words"), sum_word_len.alias("sum_word_len"),
        n_lines.alias("n_lines"), n_bullet.alias("n_bullet_lines"),
        n_ellip.alias("n_ellipsis_lines"), n_alpha.alias("n_alpha_words"),
        n_symbols.alias("n_symbol_units"), n_stop.alias("n_stop_hits"))
    c = F.col
    gpass = ((c("n_words") >= 50) & (c("n_words") <= 100000)
             & (3 * c("n_words") <= c("sum_word_len"))
             & (c("sum_word_len") <= 10 * c("n_words"))
             & (10 * c("n_symbol_units") <= c("n_words"))
             & (10 * c("n_bullet_lines") <= 9 * c("n_lines"))
             & (10 * c("n_ellipsis_lines") <= 3 * c("n_lines"))
             & (5 * c("n_alpha_words") >= 4 * c("n_words"))
             & (c("n_stop_hits") >= 2))
    return s.withColumn("gopher_pass", gpass.cast("int"))


def c4_line_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_words: int = 5,
                   min_kept_lines: int = 3) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2), the line-level
    rules: keep only lines that end in terminal punctuation (``.!?"``)
    AND have at least ``min_words`` words; a document survives iff at
    least ``min_kept_lines`` lines remain and it mentions neither
    ``lorem ipsum`` (case-insensitive) nor a ``{`` (code tell).

    Returns ``(id, clean_text, n_lines_total, n_lines_kept, keep)``
    with ``clean_text`` the kept lines re-joined by newline.  Map-only
    Catalyst projection — string/integer ops throughout, so the SQL
    oracle hashes it exactly; at 100 TB this is a free rider on the
    extraction scan (no shuffle, prunes to two columns)."""
    lines = F.split(F.col(text_col), "\n")

    def _is_kept(ln):
        words = F.size(F.filter(F.split(ln, " "), lambda x: x != ""))
        return (F.substring(ln, -1, 1).isin(".", "!", "?", '"')
                & (words >= min_words))

    base = df.select(
        F.col(id_col), F.col(text_col).alias("__t"),
        lines.alias("__lines"),
        F.filter(lines, _is_kept).alias("__kraw"))
    return base.select(
        F.col(id_col),
        F.array_join(F.col("__kraw"), "\n").alias("clean_text"),
        F.size("__lines").alias("n_lines_total"),
        F.size("__kraw").alias("n_lines_kept"),
        ((F.size("__kraw") >= min_kept_lines)
         & ~F.lower(F.col("__t")).contains("lorem ipsum")
         & ~F.col("__t").contains("{")).alias("keep"))


# ---- CJK-aware text statistics -----------------------------------------

# Character classes spelled with \x{...} escapes that Java's Pattern
# (Spark) and RE2 (DuckDB) both accept — the unicode_ws.py convention:
# the SAME literal runs in both engines, so the oracle can restate the
# arithmetic verbatim.  Ranges: Han = CJK Unified Ideographs + Ext A;
# Kana = hiragana + katakana + half-width katakana (the reference
# suite's jpn domain, ocr.py:86); sentence terminators = ASCII .!? plus
# the full-width 。．！？ forms Japanese prose actually uses.
HAN_CLASS = r"[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}]"
KANA_CLASS = r"[\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{FF66}-\x{FF9D}]"
CJK_CLASS = (r"[\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{3400}-\x{4DBF}"
             r"\x{4E00}-\x{9FFF}\x{FF66}-\x{FF9D}]")
SENT_CLASS = r"[.!?\x{3002}\x{FF01}\x{FF0E}\x{FF1F}]"


def cjk_text_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Japanese/CJK-aware per-document text statistics — the stats the
    whitespace token contract cannot provide for the reference suite's
    own domain (Japanese text has no inter-word spaces, so
    ``token_count`` reads a whole sentence as one token).

    Columns (exact integers, cross-engine-hashable):

    - ``n_chars``: code-point length (NULL text counts as empty),
    - ``n_han`` / ``n_kana``: Han-ideograph and kana counts,
    - ``n_sentences``: sentence-terminator count (ASCII ``.!?`` plus
      full-width ``。．！？``),
    - ``n_tokens_ws``: the shared single-space token contract's count
      (for comparison),
    - ``n_tokens_cjk``: CJK-aware token estimate — each Han/kana
      character is one token (the public char-level approximation; no
      dictionary segmenter exists offline) plus the single-space token
      count of the text with CJK characters blanked out.

    Map-only Catalyst projection (JVM regex counting, no Python): at
    100 TB this rides the extraction scan like ``quality_score``; the
    SQL oracle restates the identical class literals and arithmetic."""
    t = F.coalesce(F.col(text_col), F.lit(""))

    def _n(cls):
        return (F.length(t) - F.length(F.regexp_replace(t, cls, "")))

    ws_tokens = F.size(F.filter(F.split(t, " "), lambda x: x != ""))
    noncjk_tokens = F.size(F.filter(
        F.split(F.regexp_replace(t, CJK_CLASS, " "), " "),
        lambda x: x != ""))
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        _n(HAN_CLASS).cast("long").alias("n_han"),
        _n(KANA_CLASS).cast("long").alias("n_kana"),
        _n(SENT_CLASS).cast("long").alias("n_sentences"),
        ws_tokens.cast("long").alias("n_tokens_ws"),
        (_n(HAN_CLASS) + _n(KANA_CLASS) + noncjk_tokens).cast("long")
        .alias("n_tokens_cjk"))
