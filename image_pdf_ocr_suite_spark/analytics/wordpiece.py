"""WordPiece merge training (Schuster & Nakajima, ICASSP 2012; the BERT
tokenizer's trainer as popularized/specified by HuggingFace ``tokenizers``).

Completes the subword-trainer trio next to BPE (``analytics/bpe.py``,
count-argmax) and unigram-LM (``analytics/unigram.py``, Viterbi hard-EM):
WordPiece is the LIKELIHOOD-ratio variant of the BPE loop — each round
merges the adjacent pair maximizing

    score(a, b) = count(a, b) / (count(a) * count(b))

i.e. the pair whose merge most increases corpus likelihood under a
unigram factorization, not the most frequent pair.  Segmentation uses
the ``##`` continuation convention (no ``</w>`` marker): ``abc`` →
``["a", "##b", "##c"]``; merging ``(x, ##y)`` yields ``x`` + ``y`` with
the left symbol's prefix kept, so learned pieces are word-initial or
``##``-continuation exactly as in BERT vocabularies.

Spark-first shape (same scale contract as bpe.py):

- ONE corpus-sized shuffle total (``bpe.word_vocab`` explode +
  groupBy-count); every training round runs over the distinct-word
  relation only — the 100-TB corpus' token stream is never re-scanned.
- Per round, ONE Arrow kernel pass re-segments the vocabulary under the
  merges learned so far and emits BOTH adjacent-pair counts and symbol
  unigram counts (tagged rows, one combinable groupBy); the symbol-count
  side (bounded by the symbol alphabet, thousands of rows) is
  broadcast-joined onto the pair side, and ``orderBy(...).limit(1)``
  picks the winner as a TakeOrdered — one driver row per round, rounds
  bounded (default 8, the CLAUDE.md iterative budget).
- The score is computed as IEEE-754 double ``p / (CAST(lc AS DOUBLE) *
  CAST(rc AS DOUBLE))`` — each count cast to double BEFORE the product
  so the denominator cannot overflow BIGINT at 100-TB corpus counts
  (1e14² > 2^63).  One multiply + one divide on exact-integer inputs is
  bit-identical between the JVM and CPython, so the pure-Python replay
  (``replay_train``) equals the distributed answer row for row and the
  driver oracle pins its rows as literals (the bpe_merges pattern).
- Tie-break is total: score DESC, then (left, right) ASC — Spark binary
  UTF-8 ordering equals Python code-point ordering on these symbols.

Encoding (``encode_token_stats``) is the real WordPiece greedy
longest-match-first: final vocabulary = the training alphabet (each char
both bare and ``##``-prefixed) plus the learned merge symbols; a word
that cannot be fully segmented becomes a single ``[UNK]`` (HF contract:
any failure UNKs the WHOLE word).  Map-only Arrow kernel under a
broadcast vocabulary + one short-key aggregate.

Reference shape: the reference repo has no tokenizer; this family exists
for the task-mandated LLM-training-data surface (tokenizer training over
the extracted corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark.analytics.bpe import word_vocab
from image_pdf_ocr_suite_spark.analytics.lits import map_lit

UNK = "[UNK]"
SCORE_SCALE = 1_000_000_000  # pinned-integer quantization of the score


def _merge_symbol(left: str, right: str) -> str:
    """The merged piece keeps the left symbol's prefix; a continuation
    right drops its ``##`` (``("a","##b")`` → ``"ab"``; ``("##b","##c")``
    → ``"##bc"``)."""
    return left + (right[2:] if right.startswith("##") else right)


def _segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Initial ``##`` char split, then merges applied greedily
    left-to-right in rank order (the single shared segmenter for
    training, the replay, and tests)."""
    sym: list[str] = [word[0]] + ["##" + ch for ch in word[1:]]
    for left, right in merges:
        if len(sym) < 2:
            break
        out: list[str] = []
        i = 0
        n = len(sym)
        while i < n:
            if i < n - 1 and sym[i] == left and sym[i + 1] == right:
                out.append(_merge_symbol(left, right))
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def _score(pair_count: int, left_count: int, right_count: int) -> float:
    """IEEE double, exactly as the Catalyst expression computes it:
    double(p) / (double(lc) * double(rc))."""
    return float(pair_count) / (float(left_count) * float(right_count))


def _tagged_counts_df(vocab: DataFrame,
                      merges: list[tuple[str, str]]) -> DataFrame:
    """One kernel pass emitting BOTH relations as tagged rows:
    ``kind=0`` symbol unigram counts (``left``=symbol, ``right``=''),
    ``kind=1`` adjacent-pair counts.  Catalyst sums them combinably."""
    import pandas as pd

    b_merges = vocab.sparkSession.sparkContext.broadcast(list(merges))

    def kernel(batches):
        ms = b_merges.value
        for pdf in batches:
            kinds, lefts, rights, cs = [], [], [], []
            for w, f in zip(pdf["word"], pdf["freq"]):
                if not isinstance(w, str) or not w:
                    continue
                sym = _segment(w, ms)
                f = int(f)
                for s in sym:
                    kinds.append(0)
                    lefts.append(s)
                    rights.append("")
                    cs.append(f)
                for a, b in zip(sym, sym[1:]):
                    kinds.append(1)
                    lefts.append(a)
                    rights.append(b)
                    cs.append(f)
            yield pd.DataFrame({"kind": kinds, "left": lefts,
                                "right": rights, "c": cs})

    tagged = vocab.mapInPandas(
        kernel, schema="kind int, left string, right string, c bigint")
    return tagged.groupBy("kind", "left", "right") \
                 .agg(F.sum("c").cast("bigint").alias("n"))


def wordpiece_train(docs: DataFrame, n_merges: int = 8,
                    text_col: str = "text",
                    driver_max_vocab: int | None = None
                    ) -> list[tuple[str, str, int, int, int]]:
    """Learn ``n_merges`` WordPiece merges; returns
    ``[(left, right, pair_count, left_count, right_count)]`` in rank
    order.  One corpus shuffle + per-round vocab-sized tagged
    aggregations; one driver row per round.  Vocabularies ≤
    ``driver_max_vocab`` (default ``bpe.DRIVER_MAX_VOCAB``, counted
    before anything is collected — the connected_components_auto
    pattern) run the bit-equal pure-Python replay driver-side instead
    of ~2 Spark jobs per round; pass ``0`` to force the distributed
    rounds."""
    from image_pdf_ocr_suite_spark.analytics.bpe import DRIVER_MAX_VOCAB

    if driver_max_vocab is None:
        driver_max_vocab = DRIVER_MAX_VOCAB
    vocab = word_vocab(docs, text_col).persist()
    try:
        cnt = vocab.count()  # materialize once; rounds reuse the cache
        if driver_max_vocab and cnt <= driver_max_vocab:
            wf = {r["word"]: int(r["freq"]) for r in vocab.collect()}
            return replay_train(wf, n_merges=n_merges)
        merges: list[tuple[str, str]] = []
        out: list[tuple[str, str, int, int, int]] = []
        for _ in range(n_merges):
            # persist the aggregated tagged relation: the symbol and pair
            # branches below would otherwise re-run the kernel pass
            # (single-consumer rule, pipeline.py:18-23)
            counts = _tagged_counts_df(vocab, merges).persist()
            # symbol-count side is alphabet-bounded — collect it to a
            # literal map instead of building TWO broadcast joins per
            # round (round 6: each broadcast build is its own job; the
            # map lookup keeps identical double arithmetic, and every
            # pair symbol is guaranteed present as a kind-0 row)
            sym_rows = counts.filter(F.col("kind") == 0) \
                             .select("left", "n").collect()
            sym_map = map_lit((r["left"], r["n"]) for r in sym_rows)
            pairs = counts.filter(F.col("kind") == 1) \
                          .select("left", "right",
                                  F.col("n").alias("pair_count"))
            scored = (pairs
                      .withColumn("left_count",
                                  F.element_at(sym_map, F.col("left")))
                      .withColumn("right_count",
                                  F.element_at(sym_map, F.col("right")))
                      .withColumn(
                          "score",
                          F.col("pair_count").cast("double")
                          / (F.col("left_count").cast("double")
                             * F.col("right_count").cast("double"))))
            try:
                top = (scored.orderBy(F.desc("score"), F.asc("left"),
                                      F.asc("right"))
                             .limit(1).collect())
            finally:
                counts.unpersist()
            if not top:
                break
            r = top[0]
            merges.append((r["left"], r["right"]))
            out.append((r["left"], r["right"], int(r["pair_count"]),
                        int(r["left_count"]), int(r["right_count"])))
        return out
    finally:
        vocab.unpersist()


def vocab_table(spark, trained: list[tuple[str, str, int, int, int]]
                ) -> DataFrame:
    """The learned merges as a relation:
    (rank, piece, left, right, pair_count, left_count, right_count,
    score_q) with ``score_q = floor(score * 1e9)`` so the driver hash
    gate compares integers."""
    import math

    rows = []
    for i, (left, right, p, lc, rc) in enumerate(trained):
        sq = int(math.floor(_score(p, lc, rc) * SCORE_SCALE))
        rows.append((i + 1, _merge_symbol(left, right), left, right,
                     p, lc, rc, sq))
    return spark.createDataFrame(
        rows, "rank int, piece string, left string, right string, "
              "pair_count bigint, left_count bigint, right_count bigint, "
              "score_q bigint")


def corpus_alphabet(docs: DataFrame, text_col: str = "text") -> set[str]:
    """Distinct characters of the corpus words (the greedy encoder's
    base vocabulary), computed over the word-frequency relation — one
    corpus shuffle + a character-bounded distinct; equals
    ``replay_alphabet`` over the same rows."""
    vocab = word_vocab(docs, text_col)
    rows = (vocab.select(F.explode(F.split("word", "")).alias("ch"))
                 .filter(F.col("ch") != "").distinct().collect())
    return {r["ch"] for r in rows}


def final_vocab(trained: list[tuple[str, str, int, int, int]],
                alphabet: set[str]) -> set[str]:
    """Greedy-match vocabulary: every alphabet char bare and
    ``##``-prefixed, plus the learned merge symbols."""
    v = set()
    for ch in alphabet:
        v.add(ch)
        v.add("##" + ch)
    for left, right, *_ in trained:
        v.add(_merge_symbol(left, right))
    return v


def greedy_encode(word: str, vocab: set[str],
                  max_piece_len: int) -> list[str]:
    """HF WordPiece greedy longest-match-first; any failure → the whole
    word is ``[UNK]``."""
    pieces: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        prefix = "##" if i else ""
        best = None
        hi = min(n, i + max_piece_len)
        for j in range(hi, i, -1):
            cand = prefix + word[i:j]
            if cand in vocab:
                best = (cand, j)
                break
        if best is None:
            return [UNK]
        pieces.append(best[0])
        i = best[1]
    return pieces


def encode_token_stats(docs: DataFrame,
                       trained: list[tuple[str, str, int, int, int]],
                       alphabet: set[str],
                       text_col: str = "text",
                       group_col: str = "lang") -> DataFrame:
    """Encoded-stream size per group:
    (group, n_docs, n_words, n_pieces, n_unk_words).

    Map-only Arrow kernel under the broadcast final vocabulary + one
    short-key aggregate; ``n_docs``/``n_words`` are independently
    SQL-checkable, ``n_pieces``/``n_unk_words`` are the pinned training
    artifact (replay-equal)."""
    import pandas as pd

    vocab = final_vocab(trained, alphabet)
    max_len = max((len(p) - (2 if p.startswith("##") else 0)
                   for p in vocab), default=1)
    sc = docs.sparkSession.sparkContext
    b_vocab = sc.broadcast(vocab)
    b_max = sc.broadcast(max_len)

    def kernel(batches):
        v = b_vocab.value
        ml = b_max.value
        for pdf in batches:
            out_g, out_w, out_p, out_u = [], [], [], []
            for g, t in zip(pdf[group_col], pdf[text_col]):
                words = [w for w in t.split(" ") if w] \
                    if isinstance(t, str) else []
                n_pieces = 0
                n_unk = 0
                for w in words:
                    ps = greedy_encode(w, v, ml)
                    n_pieces += len(ps)
                    if ps == [UNK]:
                        n_unk += 1
                out_g.append(g)
                out_w.append(len(words))
                out_p.append(n_pieces)
                out_u.append(n_unk)
            yield pd.DataFrame({group_col: out_g, "n_words": out_w,
                                "n_pieces": out_p, "n_unk": out_u})

    per_doc = docs.select(group_col, text_col).mapInPandas(
        kernel, schema=f"{group_col} string, n_words bigint, "
                       "n_pieces bigint, n_unk bigint")
    return (per_doc.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum("n_pieces").cast("bigint").alias("n_pieces"),
                 F.sum("n_unk").cast("bigint").alias("n_unk_words")))


# ---------------------------------------------------------------------------
# Single-process replay (the oracle generator) — identical arithmetic.

def replay_train(word_freq: dict[str, int], n_merges: int = 8
                 ) -> list[tuple[str, str, int, int, int]]:
    """Pure-Python replay of ``wordpiece_train`` over an in-memory
    word-frequency dict: same segmenter, same IEEE-double score, same
    total tie-break — equals the distributed answer row for row."""
    merges: list[tuple[str, str]] = []
    out: list[tuple[str, str, int, int, int]] = []
    for _ in range(n_merges):
        sym_n: dict[str, int] = {}
        pair_n: dict[tuple[str, str], int] = {}
        for w, f in word_freq.items():
            if not w:
                continue
            sym = _segment(w, merges)
            for s in sym:
                sym_n[s] = sym_n.get(s, 0) + f
            for a, b in zip(sym, sym[1:]):
                pair_n[(a, b)] = pair_n.get((a, b), 0) + f
        if not pair_n:
            break
        scored = {k: _score(v, sym_n[k[0]], sym_n[k[1]])
                  for k, v in pair_n.items()}
        top_score = max(scored.values())
        # total tie-break: among max-score pairs take (left, right) ASC
        left, right = min(k for k, s in scored.items() if s == top_score)
        p = pair_n[(left, right)]
        merges.append((left, right))
        out.append((left, right, p, sym_n[left], sym_n[right]))
    return out


def replay_alphabet(rows: list[str | None]) -> set[str]:
    """Alphabet of the training corpus under the single-space token
    contract (chars of every non-empty word)."""
    chars: set[str] = set()
    for t in rows:
        if not isinstance(t, str):
            continue
        for w in t.split(" "):
            chars.update(w)
    return chars


def replay_encode_stats(rows: list[tuple[str | None, str | None]],
                        trained: list[tuple[str, str, int, int, int]],
                        alphabet: set[str]
                        ) -> dict[str, tuple[int, int, int, int]]:
    """Replay of ``encode_token_stats``:
    {group: (n_docs, n_words, n_pieces, n_unk_words)}."""
    vocab = final_vocab(trained, alphabet)
    max_len = max((len(p) - (2 if p.startswith("##") else 0)
                   for p in vocab), default=1)
    acc: dict[str, list[int]] = {}
    for g, t in rows:
        words = [w for w in t.split(" ") if w] if isinstance(t, str) else []
        a = acc.setdefault(g, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(words)
        for w in words:
            ps = greedy_encode(w, vocab, max_len)
            a[2] += len(ps)
            if ps == [UNK]:
                a[3] += 1
    return {g: tuple(v) for g, v in acc.items()}
