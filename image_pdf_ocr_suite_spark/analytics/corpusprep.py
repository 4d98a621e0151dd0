"""Corpus-preparation operators for web-scale training-data pipelines.

The pre-training hygiene steps that sit between raw extracted text and
tokenization: held-out test-set decontamination (GPT-3/PaLM-style n-gram
overlap), URL canonicalization + per-domain statistics, C4-style PII
redaction, and cross-corpus line-level deduplication (the CCNet/RefinedWeb
boilerplate-line killer).

Catalyst expressions throughout, except the word-gram hash stages
(decontamination, exact-substring dedup), which run Arrow unique-gram
kernels (interpreted-HOF md5 is GC-bound in a shared JVM — see
hashkernels.py).  Every operator is replicable in ANSI SQL for the
DuckDB oracle, which checks the kernels directly.  Scale notes per
operator below — the common theme is that every shuffle key is a
fixed-width digest, never the document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from image_pdf_ocr_suite_spark.partitioning import (
    fan_out_small as _fan)

from image_pdf_ocr_suite_spark.analytics.text import (
    md5_bucket_expr, token_array_expr)

# Java-regex / RE2 compatible PII patterns (no backreferences, no \d
# shorthand — explicit classes behave identically in both engines).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"


def _ngram_hashes(df: DataFrame, n: int, text_col: str,
                  id_col: str) -> DataFrame:
    """(id, __h) rows: md5-hex of every word ``n``-gram.

    An Arrow-batched kernel that hashes each DISTINCT gram of the batch
    exactly once (factorize → md5 per unique → gather — the same Zipf
    trick as ``dedup.simhash64``): per-process Python workers sidestep
    the shared-JVM GC wall of md5 inside an interpreted Catalyst
    ``transform`` lambda (measured: near-zero 8→32-core scaling on a
    640k-doc corpus), and corpora repeat grams heavily so most md5 calls
    vanish.  The DuckDB oracle pins the md5 definition."""
    import numpy as np
    import pandas as pd

    from image_pdf_ocr_suite_spark.analytics.hashkernels import (
        factorize_md5_hex, iter_flat_chunks)

    id_type = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            ids, gram_lists = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str) or not t:
                    continue
                # single-space split, empties dropped — the exact
                # token_array_expr / string_split(text, ' ') contract
                toks = [x for x in t.split(" ") if x]
                if len(toks) < n:
                    continue
                gram_lists.append([" ".join(toks[j:j + n])
                                   for j in range(len(toks) - n + 1)])
                ids.append(i)
            for cids, lens, flat in iter_flat_chunks(ids, gram_lists):
                codes, uhex = factorize_md5_hex(flat)
                yield pd.DataFrame({id_col: np.repeat(np.array(cids), lens),
                                    "__h": uhex[codes]})

    return _fan(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, __h string")


def test_gram_table(test: DataFrame, n: int = 13, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """The distinct held-out gram-hash table (one ``__h`` column) —
    precompute + persist/materialize it once when probing repeatedly
    (e.g. every streaming micro-batch) instead of re-hashing the test
    set per call; feed it to ``decontaminate_ngrams(test_grams=...)``."""
    return _ngram_hashes(test, n, text_col, id_col) \
        .select("__h").distinct()


def decontaminate_ngrams(corpus: DataFrame, test: DataFrame | None = None,
                         n: int = 13,
                         text_col: str = "text", id_col: str = "doc_id",
                         broadcast_test: bool = True,
                         impl: str = "arrow", *,
                         test_grams: DataFrame | None = None) -> DataFrame:
    """Test-set decontamination: flag every corpus document sharing at
    least one word ``n``-gram with a held-out evaluation set (the GPT-3
    13-gram rule).  Returns ``(id, n_shared)`` where ``n_shared`` counts
    the DISTINCT contaminating n-grams.

    Scale shape: both sides hash n-grams to md5 (fixed 32-char key — the
    shuffle never carries document text); the test-set gram list is tiny
    relative to the corpus, so it broadcasts and the corpus side is a
    map-only probe followed by one count aggregate on ``id``.  Set
    ``broadcast_test=False`` to fall back to a shuffle hash join when the
    held-out set is itself large.  Pass a precomputed (ideally persisted)
    ``test_grams`` table instead of ``test`` when probing repeatedly.

    ``impl="arrow"`` (default) joins md5 gram hashes as above;
    ``impl="probe"`` skips corpus-side hashing and matches raw grams
    against a broadcast set (``_decontaminate_probe``; needs ``test``).
    Both return identical rows."""
    if (test is None) == (test_grams is None):
        raise ValueError("pass exactly one of test / test_grams")
    if impl == "probe":
        if test is None:
            raise ValueError("impl='probe' needs the raw test frame")
        return _decontaminate_probe(corpus, test, n, text_col, id_col)
    if impl != "arrow":
        raise ValueError(f"impl must be 'arrow' or 'probe': {impl!r}")
    cg = _ngram_hashes(corpus, n, text_col, id_col)
    tg = (test_grams if test_grams is not None
          else test_gram_table(test, n, text_col, id_col))
    if broadcast_test:
        tg = F.broadcast(tg)
    # distinct AFTER the probe: the only exchange on the corpus side then
    # carries the matching (id, gram) sliver, never the full gram stream
    return (cg.join(tg, "__h")
              .select(F.col(id_col), F.col("__h")).distinct()
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))


def held_out_gram_set(test: DataFrame, n: int,
                      text_col: str = "text") -> tuple[frozenset, frozenset]:
    """Driver-side raw word-``n``-gram set of a broadcast-sized held-out
    frame, plus its first-token prefilter set — the SINGLE spelling of
    the probe-side gram contract, shared by ``_decontaminate_probe``
    and the fused funnel kernel (funnel._fused_verdicts) so the two can
    never diverge."""
    gram_set: set[str] = set()
    for row in test.select(text_col).collect():
        t = row[0]
        if not isinstance(t, str) or not t:
            continue
        toks = [x for x in t.split(" ") if x]
        for j in range(len(toks) - n + 1):
            gram_set.add(" ".join(toks[j:j + n]))
    first_toks = frozenset(g.split(" ", 1)[0] for g in gram_set)
    return frozenset(gram_set), first_toks


def _decontaminate_probe(corpus: DataFrame, test: DataFrame, n: int,
                         text_col: str, id_col: str) -> DataFrame:
    """``impl='probe'``: zero corpus-side hashing.  The held-out set's
    RAW grams are built driver-side (bounded by the same broadcast-size
    contract as the md5 join path — the IVF-quantizer bounded-collect
    device) and shipped once per executor via ``sc.broadcast``; the
    corpus kernel counts distinct shared grams per document with C-speed
    set membership, guarded by a FIRST-TOKEN prefilter so the vast
    majority of corpus positions never even materialize a gram string.
    Output is row-identical to the md5 path (exact string matching both
    ways — the funnel-scaling profile measured the md5 kernel as the
    funnel's floor stage, BENCH/BASELINE.md 2026-08-18; this path
    removes it).  Still one tiny aggregate-free map stage: each doc's
    count is complete within its row."""
    import pandas as pd

    gram_set, first_toks = held_out_gram_set(test, n, text_col)
    b = corpus.sparkSession.sparkContext.broadcast((gram_set, first_toks))

    id_type = corpus.schema[id_col].dataType.simpleString()

    def kernel(batches):
        grams, firsts = b.value
        for pdf in batches:
            ids, counts = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str) or not t:
                    continue
                toks = [x for x in t.split(" ") if x]
                if len(toks) < n:
                    continue
                hits = {g for j in range(len(toks) - n + 1)
                        if toks[j] in firsts
                        and (g := " ".join(toks[j:j + n])) in grams}
                if hits:
                    ids.append(i)
                    counts.append(len(hits))
            if ids:
                yield pd.DataFrame({id_col: ids, "n_shared": counts})

    return _fan(corpus.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, n_shared bigint")


_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def canonicalize_urls(df: DataFrame, url_col: str = "url",
                      id_col: str = "doc_id") -> DataFrame:
    """URL canonicalization for crawl dedup/grouping: lowercase the scheme
    and host, strip a leading ``www.``, drop query string and fragment,
    strip trailing slashes from the path.  Returns
    ``(id, url_canon, domain)`` — NULLs for unparseable rows (no
    ``scheme://host``), so malformed crawl URLs surface as a NULL-domain
    bucket instead of silently merging into a ghost ``''`` domain.
    Map-only — a projection on the scan; at 100 TB this runs at scan
    parallelism with zero data movement."""
    u = F.col(url_col)
    valid = F.regexp_extract(u, _HOST_RE, 1) != ""
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, _HOST_RE, 1)), "^www\\.", "")
    path = F.regexp_replace(F.regexp_extract(u, _PATH_RE, 1), "/+$", "")
    return df.select(
        F.col(id_col),
        F.when(valid, F.concat(scheme, F.lit("://"), host, path))
         .alias("url_canon"),
        F.when(valid, host).alias("domain"))


def domain_stats(canon: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-domain crawl statistics over canonicalized URLs: document count
    and distinct canonical URLs.  One hash aggregate on ``domain`` with
    map-side partial combine; the countDistinct expands to a two-phase
    aggregate on (domain, url_canon) — both keyed on short strings."""
    return canon.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("url_canon").cast("bigint").alias("n_urls"))


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """C4-style PII redaction: replace emails, IPv4 addresses, and
    international-format phone numbers with typed placeholder tokens, and
    count each category (the counts feed corpus quality dashboards).
    Replacement order matters — emails first (their local parts can
    contain digit runs), then IPs, then phones.  Returns
    ``(id, redacted_text, n_email, n_phone, n_ip)``.  Map-only projection;
    all three patterns are RE2-safe so the oracle uses the identical
    regex strings."""
    t = F.col(text_col)
    # counts run against the PREVIOUS redaction stage so a digits-and-dots
    # email local part is counted once as email, never again as an IP
    red1 = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red2 = F.regexp_replace(red1, IPV4_RE, "<IP>")
    staged = df.select(F.col(id_col), t.alias("__t0"),
                       red1.alias("__t1"), red2.alias("__t2"))
    return staged.select(
        F.col(id_col),
        F.regexp_replace(F.col("__t2"), PHONE_RE, "<PHONE>")
         .alias("redacted_text"),
        F.regexp_count(F.col("__t0"), F.lit(EMAIL_RE))
         .cast("bigint").alias("n_email"),
        F.regexp_count(F.col("__t2"), F.lit(PHONE_RE))
         .cast("bigint").alias("n_phone"),
        F.regexp_count(F.col("__t1"), F.lit(IPV4_RE))
         .cast("bigint").alias("n_ip"))


def split_token_lines(df: DataFrame, tokens_per_line: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Segment documents into fixed-width pseudo-lines of
    ``tokens_per_line`` tokens — the line source for corpora whose
    extraction collapsed newlines (this repo's OCR text assembly joins
    lines with spaces).  Real newline-delimited corpora can feed
    ``line_dedup_stats`` directly via ``posexplode(split(text, '\\n'))``.
    Map-only flatMap on the scan."""
    base = (_fan(df.select(id_col, text_col))
              .select(F.col(id_col), token_array_expr(text_col).alias("__toks"))
              .select(F.col(id_col), F.col("__toks"),
                      F.size("__toks").alias("__n")))
    starts = F.when(
        F.col("__n") >= 1,
        F.sequence(F.lit(1), F.col("__n"), F.lit(tokens_per_line)),
    ).otherwise(F.array().cast("array<int>"))
    ex = base.select(F.col(id_col), F.col("__toks"),
                     F.explode(starts).alias("__start"))
    return ex.select(
        F.col(id_col),
        ((F.col("__start") - 1) / F.lit(tokens_per_line))
        .cast("int").alias("line_no"),
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__start"),
                                 tokens_per_line)).alias("line"))


def rare_token_ratio(df: DataFrame, min_count: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     broadcast_vocab: bool = True) -> DataFrame:
    """OOV/garbage quality signal: the fraction of a document's tokens
    whose CORPUS-WIDE frequency is below ``min_count`` — high ratios mark
    mojibake, hash soup, and boilerplate IDs.  Exact int/int ratio (no
    float accumulation → bitwise cross-engine).  Returns
    ``(id, n_tokens, n_rare, rare_ratio)``; token-less docs report 0/0/0.0.

    Two aggregates: corpus token frequencies (map-side partial combine,
    vocab-cardinality shuffle), then the per-doc rare count.  The
    broadcast side is the COMMON vocab (freq >= min_count) — bounded by
    natural language regardless of corpus size — and a token counts as
    rare exactly when the left join misses.  Broadcasting the rare set
    instead would ship the Zipf hapax tail, which on a crawl full of
    hash soup is the majority of distinct types and unbounded.  Set
    ``broadcast_vocab=False`` for adversarial inputs whose COMMON vocab
    is itself huge and the probe becomes a shuffle hash join."""
    tok = df.select(F.col(id_col),
                    F.explode(token_array_expr(text_col)).alias("__tok"))
    vocab = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    common = vocab.where(F.col("__c") >= min_count).select("__tok")
    if broadcast_vocab:
        common = F.broadcast(common)
    flagged = tok.join(common.withColumn("__common", F.lit(1)),
                       "__tok", "left")
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__common").isNull(), F.lit(1))
               .otherwise(F.lit(0))).alias("n_rare"))
    ids = df.select(F.col(id_col))
    out = ids.join(agg, id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
         .alias("n_tokens"),
        F.coalesce(F.col("n_rare"), F.lit(0)).cast("bigint").alias("n_rare"),
        F.coalesce(F.col("n_rare").cast("double") / F.col("n_tokens"),
                   F.lit(0.0)).alias("rare_ratio"))


def token_budget_sample(df: DataFrame, budget_tokens: int,
                        strata_col: str = "lang", n_shards: int = 16,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic token-budget sampling: per stratum, walk documents in
    md5(id) order (a reproducible pseudo-random permutation) and keep each
    document whose running token total STARTS under the stratum's budget —
    the data-mixing step that caps every language/source at a token quota.

    The budget splits evenly across ``n_shards`` md5 shards and the
    running sum windows on ``(stratum, shard)`` — per-stratum global
    cumsums would serialize a 100 TB stratum through one partition, while
    shard quotas keep determinism and cluster parallelism (quota error is
    at most one straddling document per shard).  All-integer arithmetic →
    bitwise cross-engine.  Returns ``(id, stratum, n_tokens)`` of the
    kept documents."""
    from image_pdf_ocr_suite_spark.analytics.text import token_count_expr
    shard_budget = budget_tokens // n_shards
    base = df.select(
        F.col(id_col), F.col(strata_col),
        token_count_expr(text_col).cast("bigint").alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("__ord"),
        md5_bucket_expr(id_col, n_shards).alias("__shard"))
    w = (Window.partitionBy(strata_col, "__shard")
         .orderBy("__ord", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w)
    return (base.withColumn("__before", cum - F.col("n_tokens"))
                .where(F.col("__before") < shard_budget)
                .select(F.col(id_col), F.col(strata_col), F.col("n_tokens")))


def pack_chunks(chunks: DataFrame, capacity: int = 256, n_shards: int = 32,
                id_col: str = "doc_id", idx_col: str = "chunk_idx",
                tok_col: str = "chunk_tokens") -> DataFrame:
    """Context-window packing (concat-and-split): lay chunks end to end in
    the deterministic ``(id, chunk_idx)`` order and cut fixed-capacity
    training bins — each chunk lands in the bin where its starting offset
    falls (``floor(tokens_before / capacity)``); the downstream tokenizer
    splits exactly at bin boundaries.  Returns per-bin
    ``(shard, bin_id, n_chunks, n_tokens, fill_ratio)``.

    Packing is per-shard (``md5(id) % n_shards``) rather than global: a
    global running sum is a single-partition window — a non-starter at
    100 TB — while shards pack independently at cluster parallelism and
    the assignment stays deterministic across runs/engines/partitionings.
    One shuffle on ``shard`` (window), then a hash aggregate."""
    base = chunks.select(md5_bucket_expr(id_col, n_shards).alias("shard"),
                         F.col(id_col), F.col(idx_col),
                         F.col(tok_col))
    w = (Window.partitionBy("shard").orderBy(id_col, idx_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(tok_col).over(w)
    binned = base.select(
        F.col("shard"),
        ((cum - F.col(tok_col)) / F.lit(capacity)).cast("long")
        .alias("bin_id"),
        F.col(tok_col))
    return binned.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(tok_col).cast("bigint").alias("n_tokens"),
        (F.sum(tok_col).cast("double") / F.lit(float(capacity)))
        .alias("fill_ratio"))


def line_dedup_stats(lines: DataFrame, id_col: str = "doc_id",
                     line_no_col: str = "line_no",
                     line_col: str = "line") -> DataFrame:
    """Cross-corpus exact line-level dedup (CCNet/RefinedWeb): every
    distinct line keeps exactly its FIRST occurrence — minimal
    ``(id, line_no)`` — and every other occurrence is a drop.  Returns
    per-document ``(id, n_lines, n_kept)``; heavily boilerplate documents
    show ``n_kept << n_lines``.

    Scale shape: the line text is digested to md5 BEFORE the shuffle, so
    the exchange carries ``(id, line_no, 16-byte hash)`` rows only — never
    line bodies.  One window shuffle on the hash (rank-1 = keeper), then a
    per-document hash aggregate."""
    slim = lines.select(F.col(id_col), F.col(line_no_col),
                        F.md5(F.col(line_col)).alias("__h"))
    w = Window.partitionBy("__h").orderBy(id_col, line_no_col)
    ranked = slim.withColumn("__r", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("__r") == 1, 1).otherwise(0))
         .cast("bigint").alias("n_kept"))


def _positional_gram_hashes(df: DataFrame, n: int, text_col: str,
                            id_col: str) -> DataFrame:
    """``(id, pos, __h)`` rows: md5-hex of the word ``n``-gram window
    STARTING at token index ``pos`` (0-based over the shared
    single-space token contract, empties dropped).  Unlike
    ``_ngram_hashes`` the window position is kept — exact-substring
    dedup needs it to cut spans back out of the document.

    The same factorize→md5-per-unique→gather Arrow kernel (repeated
    windows hash once per batch)."""
    import numpy as np
    import pandas as pd

    from image_pdf_ocr_suite_spark.analytics.hashkernels import (
        factorize_md5_hex, iter_flat_chunks)

    id_type = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            ids, gram_lists = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str) or not t:
                    continue
                toks = [x for x in t.split(" ") if x]
                if len(toks) < n:
                    continue
                gram_lists.append([" ".join(toks[j:j + n])
                                   for j in range(len(toks) - n + 1)])
                ids.append(i)
            for cids, lens, flat in iter_flat_chunks(ids, gram_lists):
                codes, uhex = factorize_md5_hex(flat)
                pos = np.concatenate([np.arange(l, dtype=np.int32)
                                      for l in lens]) if len(lens) else \
                    np.array([], dtype=np.int32)
                yield pd.DataFrame({id_col: np.repeat(np.array(cids), lens),
                                    "pos": pos, "__h": uhex[codes]})

    return _fan(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, pos int, __h string")


def duplicate_spans(df: DataFrame, n: int = 20, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication spans (the fixed-window distributed
    approximation of suffix-array training-data dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): every
    ``n``-token window whose exact text occurs MORE THAN ONCE in the
    corpus — including repeats inside one document — is a duplicated
    occurrence, EXCEPT the single keeper occurrence (minimal
    ``(id, pos)`` per window text, so one copy of every duplicated
    passage survives corpus-wide).  Overlapping/adjacent duplicated
    windows per document merge into maximal token spans
    (gaps-and-islands).  Returns ``(id, span_start, span_end,
    span_tokens)`` with 0-based token indices, ``span_end`` exclusive.

    Scale shape: the only data-sized exchange is the window-hash
    aggregate, and it carries ``(16-byte digest, id, pos)`` rows — never
    window text (one digest row per corpus token, the same order of
    traffic as the tokenize stage itself; a count-min prefilter could
    shrink it further but changes no semantics).  ``groupBy(__h)`` gets
    map-side partial aggregation; the surviving duplicated-hash table is
    the tiny fraction with count > 1, joined back hash-to-hash (AQE
    picks broadcast when it fits).  The island merge windows over
    DUPLICATED occurrences only, partitioned by document."""
    # occ feeds BOTH the keeper-stats aggregate and the join probe —
    # without pinning, the tokenize+hash kernel executes twice.  Lazy
    # localCheckpoint (ContextCleaner-reclaimed, the round-5p rule)
    # materializes it once; rows are (id, pos, 16-byte digest) only.
    occ = _positional_gram_hashes(df, n, text_col, id_col) \
        .localCheckpoint(eager=False)
    stats = (occ.groupBy("__h")
                .agg(F.count(F.lit(1)).alias("__c"),
                     F.min(F.struct(F.col(id_col), F.col("pos")))
                      .alias("__keep"))
                .filter(F.col("__c") > 1))
    dup = (occ.join(stats, "__h")
              .filter(~((F.col(id_col) == F.col("__keep")[id_col])
                        & (F.col("pos") == F.col("__keep")["pos"])))
              .select(id_col, "pos"))
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    isl = dup.withColumn(
        "__new", F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)),
                        1).otherwise(0))
    grp = isl.withColumn(
        "__g", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding,
                                                 0)))
    return grp.groupBy(id_col, "__g").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + n).cast("int").alias("span_end"),
        (F.max("pos") + n - F.min("pos")).cast("int").alias("span_tokens"),
    ).drop("__g")


def cut_duplicate_spans(df: DataFrame, n: int = 20, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Remove every duplicated span found by :func:`duplicate_spans`
    from the document body, keeping the corpus-wide keeper copy intact.
    Returns ``(id, clean_text, n_tokens, n_removed)`` — ``clean_text``
    re-joins the surviving tokens with single spaces (the shared token
    contract), every input document appears exactly once.

    Scale shape: spans collapse to one small array per affected document
    before rejoining, so the document text crosses no shuffle keyed on
    anything but its own id — and the span side is the output of a
    ``count > 1`` filter, which AQE broadcasts when it fits.  The token
    cut is an Arrow kernel over ``(text, spans)`` (round 6): the former
    Catalyst ``filter((tok, i) -> exists(spans, ...))`` is a nested
    interpreted-HOF pair evaluated per token × span — a numpy interval
    mask over the same 0-based token indices is row-identical and
    codegen-free."""
    import numpy as np
    import pandas as pd

    spans = duplicate_spans(df, n, text_col, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    # null text tokenizes to [] (not null) so every document emits a row
    joined = (_fan(df.select(id_col, text_col))
              .join(per_doc, id_col, "left"))
    id_type = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            ids, cleans, nts, nrs = [], [], [], []
            for i, t, sp in zip(pdf[id_col], pdf[text_col],
                                pdf["__spans"]):
                toks = [x for x in t.split(" ") if x] \
                    if isinstance(t, str) else []
                nt = len(toks)
                if (sp is None or not hasattr(sp, "__len__")
                        or len(sp) == 0 or nt == 0):
                    clean, nr = " ".join(toks), 0
                else:
                    mask = np.ones(nt, dtype=bool)
                    for s in sp:
                        mask[max(0, s["span_start"]):
                             max(0, s["span_end"])] = False
                    clean = " ".join(
                        tok for tok, keep in zip(toks, mask) if keep)
                    nr = nt - int(mask.sum())
                ids.append(i)
                cleans.append(clean)
                nts.append(nt)
                nrs.append(nr)
            yield pd.DataFrame({id_col: ids, "clean_text": cleans,
                                "n_tokens": nts, "n_removed": nrs})

    return joined.mapInPandas(
        kernel, schema=(f"{id_col} {id_type}, clean_text string, "
                        f"n_tokens int, n_removed int"))


def bloom_decontaminate(corpus: DataFrame, test: DataFrame | None = None,
                        n: int = 13, m_bits: int = 1 << 18, k: int = 4,
                        text_col: str = "text", id_col: str = "doc_id", *,
                        test_grams: DataFrame | None = None) -> DataFrame:
    """``decontaminate_ngrams`` through a Bloom filter: the held-out gram
    set is folded into a <= ``m_bits/32``-row mergeable bit table
    (sketches.bloom_build) and the corpus gram kernel tests each gram's
    ``k`` positions against that bounded bit array, map-side —
    ``(id, n_maybe)`` counts the DISTINCT grams that MAY be
    contaminated.

    One-sided by construction: ``n_maybe >= n_shared`` per document (no
    contaminated gram is ever missed; false positives at the classic
    ``(1 - e^{-kn/m})^k`` rate).  Use it as the cheap first pass at
    100 TB — the broadcast is O(m_bits) REGARDLESS of test-set size,
    where the exact probe's broadcast grows with the held-out set — and
    re-verify the flagged sliver with ``decontaminate_ngrams`` when
    exactness matters.  Deterministic md5 double hashing end-to-end, so
    the SQL oracle replays the sketch bit-for-bit."""
    from image_pdf_ocr_suite_spark.analytics import sketches

    if (test is None) == (test_grams is None):
        raise ValueError("pass exactly one of test / test_grams")
    tg = (test_grams if test_grams is not None
          else test_gram_table(test, n, text_col, id_col))
    bloom = sketches.bloom_build(tg, "__h", m_bits=m_bits, k=k, hashed=True)
    # gram hashing AND the bloom test in ONE Python stage — only the
    # flagged (id, gram) sliver ever re-enters the JVM (a separate probe
    # stage costs a second Arrow round trip of the full gram stream;
    # measured no better than the k-broadcast-join form)
    flagged = _bloom_flagged_grams(
        corpus, sketches.bloom_bits_array(bloom, m_bits), n, m_bits,
        k, text_col, id_col)
    return (flagged.select(F.col(id_col), F.col("__h")).distinct()
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_maybe")))


def _bloom_flagged_grams(corpus: DataFrame, bits, n: int, m_bits: int,
                         k: int, text_col: str, id_col: str) -> DataFrame:
    """(id, __h) rows of MAYBE-contaminated grams only: the
    _ngram_hashes kernel with the bounded bit array tested against each
    DISTINCT gram's md5 before anything is emitted."""
    import numpy as np
    import pandas as pd

    from image_pdf_ocr_suite_spark.analytics.hashkernels import (
        factorize_md5_hex, iter_flat_chunks)
    from image_pdf_ocr_suite_spark.analytics.sketches import hex_halves_np

    id_type = corpus.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            ids, gram_lists = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str) or not t:
                    continue
                toks = [x for x in t.split(" ") if x]
                if len(toks) < n:
                    continue
                gram_lists.append([" ".join(toks[j:j + n])
                                   for j in range(len(toks) - n + 1)])
                ids.append(i)
            for cids, lens, flat in iter_flat_chunks(ids, gram_lists):
                codes, uhex = factorize_md5_hex(flat)
                h1, h2 = hex_halves_np(uhex)
                ok = np.ones(len(uhex), dtype=bool)
                for i in range(k):
                    pos = (h1 + i * h2) % m_bits
                    ok &= (bits[pos // 32]
                           >> (pos % 32).astype(np.uint32)) & 1 == 1
                keep = ok[codes]
                yield pd.DataFrame(
                    {id_col: np.repeat(np.array(cids), lens)[keep],
                     "__h": uhex[codes][keep]})

    return _fan(corpus.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, __h string")


def frequent_line_filter(lines: DataFrame, min_docs: int = 2,
                         id_col: str = "doc_id",
                         line_no_col: str = "line_no",
                         line_col: str = "line",
                         scope_col: str | None = None) -> DataFrame:
    """Boilerplate removal by corpus frequency (the CCNet/RefinedWeb
    companion to ``line_dedup_stats``): a line that occurs in at least
    ``min_docs`` DISTINCT documents is boilerplate — nav bars, cookie
    banners, footers — and EVERY occurrence is dropped (first-occurrence
    keeping, the other policy, is ``line_dedup_stats``).  Returns one
    row per document: ``(id, n_lines, n_kept, kept_text)`` with
    ``kept_text`` the surviving lines joined by single spaces in
    ``line_no`` order (the repo's text-assembly convention).

    ``scope_col`` narrows the frequency universe: with e.g. ``host``
    the rule becomes *per-site template learning* — a line must repeat
    across ``min_docs`` documents OF THE SAME SITE to be dropped, so a
    sentence that happens to appear on two unrelated sites survives
    while every site's own nav/footer template goes.  That is the
    RefinedWeb/CCNet deployment shape: boilerplate is a per-template
    phenomenon, and host is the template key a crawl actually has.

    Scale shape: line text is digested to md5 map-side, so the
    frequency aggregate shuffles ``(16-byte hash, id)`` only (plus the
    short scope key when scoped); the GLOBAL boilerplate set is small
    by construction — boilerplate is the head of the frequency
    distribution — and joins back as an EXPLICIT broadcast left-anti
    join, so line bodies never ride that exchange.  The SCOPED set is
    O(hosts × template lines) — too big to broadcast at 10^12 docs —
    so the scoped path anti-joins on ``(scope, hash)`` through a
    regular hash exchange that still carries only digests and lets AQE
    pick the strategy per actual size.  The only body-carrying shuffle
    either way is the final per-document reassembly, the same class as
    ``doc_assembly``."""
    # digested feeds THREE consumers (frequency aggregate, anti-join
    # probe, per-doc line counts) — pin it once (lazy localCheckpoint,
    # ContextCleaner-reclaimed) or the upstream line synthesis chain
    # executes three times.
    digested = lines.withColumn("__h", F.md5(F.col(line_col))) \
        .localCheckpoint(eager=False)
    freq_keys = [scope_col, "__h"] if scope_col else ["__h"]
    frequent = (digested.groupBy(*freq_keys)
                .agg(F.countDistinct(id_col).alias("__df"))
                .where(F.col("__df") >= min_docs)
                .select(*freq_keys))
    if scope_col:
        kept = digested.join(frequent, freq_keys, "left_anti")
    else:
        kept = digested.join(F.broadcast(frequent), "__h", "left_anti")
    n_all = (digested.groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("long").alias("n_lines")))
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(" ", F.array_sort(F.collect_list(
            F.struct(F.col(line_no_col), F.col(line_col))))
            .getField(line_col)).alias("kept_text"))
    return (n_all.join(per_doc, id_col, "left")
            .select(id_col, "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("kept_text", F.lit("")).alias("kept_text")))


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", max_passes: int = 3) -> DataFrame:
    """Repair double-encoding damage ("mojibake") — UTF-8 bytes that
    were decoded as cp1252/latin-1 somewhere upstream, the classic
    Common-Crawl artifact (``café`` → ``cafÃ©``, ``—`` → ``â€”``).

    A pass re-encodes the string as cp1252 (falling back to latin-1,
    which covers the 0x81/0x8D/0x8F/0x90/0x9D holes that latin-1-style
    corruption produces as C1 controls) and strictly decodes UTF-8; it
    is accepted only if BOTH conversions round-trip and the result
    differs.  Up to ``max_passes`` passes undo nested corruption.
    Legitimate text is a fixed point by construction: ASCII round-trips
    to itself (0 passes), non-西欧 scripts (Japanese, ...) fail the
    cp1252/latin-1 encode, and ordinary Latin-1 prose (``naïve café``)
    encodes to bytes that are NOT valid UTF-8 — all three leave the
    text untouched.  The known residual false-positive class —
    intentional strings like ``Â£`` that ARE valid mojibake — is the
    standard trade-off of the public algorithm (ftfy's core rule).

    Returns ``(id, text, n_passes)`` with ``text`` repaired.  Arrow
    kernel, map-only: no shuffle, rides the scan at any scale; NULL
    text stays NULL with ``n_passes`` 0."""
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]

    def _fix_one(s: str) -> tuple[str, int]:
        cur, passes = s, 0
        for _ in range(max_passes):
            try:
                b = cur.encode("cp1252")
            except UnicodeEncodeError:
                try:
                    b = cur.encode("latin-1")
                except UnicodeEncodeError:
                    break
            try:
                dec = b.decode("utf-8")
            except UnicodeDecodeError:
                break
            if dec == cur:
                break
            cur, passes = dec, passes + 1
        return cur, passes

    def kernel(batches) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            fixed, n_passes = [], []
            for s in pdf[text_col]:
                if s is None:
                    fixed.append(None)
                    n_passes.append(0)
                else:
                    f, p = _fix_one(s)
                    fixed.append(f)
                    n_passes.append(p)
            yield pd.DataFrame({id_col: pdf[id_col], text_col: fixed,
                                "n_passes": n_passes})

    # NB round 6: deliberately NOT fanned — the repair kernel is
    # microseconds per clean-ASCII doc; an adaptive exchange costs more
    # than the parallelism buys on this thin, cheap kernel
    return df.select(id_col, text_col).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, {text_col} string, "
                       f"n_passes int")


# RefinedWeb-style URL filtering defaults (Penedo et al. 2023 §3.1 use
# the UT1 blocklist plus a weighted word list scored against the URL;
# the lists here are deterministic stand-ins with the same mechanics).
# Integer point weights so the verdict is exact cross-engine.
URL_BLOCKLIST: tuple[str, ...] = (
    "badsite.example", "malware.example.net", "spam.example.org")
URL_KEYWORD_WEIGHTS: tuple[tuple[str, int], ...] = (
    ("casino", 60), ("poker", 45), ("webcam", 40), ("pills", 35),
    ("torrent", 25), ("download", 10), ("free", 5))
URL_SCORE_THRESHOLD = 50


def url_quality_filter(df: DataFrame, url_col: str = "url",
                       id_col: str = "doc_id",
                       blocked_domains: tuple[str, ...] = URL_BLOCKLIST,
                       keyword_weights: tuple[tuple[str, int], ...]
                       = URL_KEYWORD_WEIGHTS,
                       threshold: int = URL_SCORE_THRESHOLD) -> DataFrame:
    """URL-level document filter (the RefinedWeb/UT1 pre-text gate):
    a document is rejected before its text is ever decoded when its
    URL's host is on a domain blocklist (exact host or any-subdomain
    suffix match) or when the sum of integer point weights of spam
    keywords occurring in the lowercased URL reaches ``threshold``.

    Returns ``(id, host, kw_score, verdict)`` with verdict one of
    ``blocked_domain`` / ``score_reject`` / ``keep`` (blocklist wins
    when both trip; unparseable URLs keep a NULL host and are scored
    on the raw string — malformed URLs still carry spam signal).

    Scale: pure map-only Catalyst projection over literal lists — the
    blocklist is a compile-time constant folded into the plan (the
    production swap-in is a broadcast join against a blocklist table);
    runs at scan parallelism with zero data movement, which is the
    point: at 10^12 documents this gate discards rows before the body
    column is ever read."""
    u_lc = F.lower(F.col(url_col))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1)),
        "^www\\.", "")
    valid = F.regexp_extract(F.col(url_col), _HOST_RE, 1) != ""
    blocked = F.lit(False)
    for d in blocked_domains:
        blocked = blocked | (host == d) | host.endswith("." + d)
    score = F.lit(0)
    for kw, w in keyword_weights:
        score = score + F.when(u_lc.contains(kw), F.lit(w)).otherwise(0)
    return df.select(
        F.col(id_col),
        F.when(valid, host).alias("host"),
        score.cast("int").alias("kw_score"),
        F.when(valid & blocked, F.lit("blocked_domain"))
         .when(score >= threshold, F.lit("score_reject"))
         .otherwise(F.lit("keep")).alias("verdict"))


def compressed_len(s: str, level: int = 6) -> int:
    """zlib-deflate length of the UTF-8 bytes — the single spelling
    shared by the Spark kernel, the pytest reference, and the oracle
    pinning (zlib output is deterministic for a fixed level and
    strategy, both defaulted here)."""
    import zlib

    return len(zlib.compress(s.encode("utf-8"), level))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      level: int = 6) -> DataFrame:
    """Compression-ratio quality signal (the Gopher/Dolma-family
    repetitiveness detector): highly repetitive machine text deflates
    far below natural prose, so ``ratio_bp = floor(10000·deflate_len /
    utf8_len)`` separates boilerplate/spam from content with one pass
    and no tokenization.  Returns ``(id, raw_len, comp_len, ratio_bp)``
    — all integers so the driver hash-checks exactly; NULL text stays
    NULL, empty text is (0, header-only deflate length, NULL) with the
    ratio NULL since it is undefined at zero length.

    Arrow kernel, map-only: rides the scan, no shuffle at any scale;
    deflate is ~30 MB/s/core worst-case, far above the OCR stages this
    pipeline already amortizes."""
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]

    def kernel(batches) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, raws, comps, bps = [], [], [], []
            for i, s in zip(pdf[id_col], pdf[text_col]):
                if s is None:
                    raws.append(None)
                    comps.append(None)
                    bps.append(None)
                else:
                    r = len(s.encode("utf-8"))
                    c = compressed_len(s, level)
                    raws.append(r)
                    comps.append(c)
                    bps.append((10000 * c) // r if r > 0 else None)
                ids.append(i)
            yield pd.DataFrame({id_col: ids, "raw_len": raws,
                                "comp_len": comps, "ratio_bp": bps})

    return _fan(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, raw_len bigint, "
                       f"comp_len bigint, ratio_bp bigint")
