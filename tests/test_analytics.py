"""Behavioral tests for the training-data-pipeline operators: dedup finds
planted near-duplicates, similarity search matches a numpy ground truth,
multimodal metadata matches the payload fixture."""

import numpy as np
import pytest

from image_pdf_ocr_suite_spark import fixtures
from image_pdf_ocr_suite_spark.analytics import dedup, multimodal, similarity


BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm stove in the kitchen every single day")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                        # exact dup of 0
        (2, BASE.replace("kitchen", "garden")),           # near dup of 0
        (3, "completely different content about spark shuffle partitions"),
        (4, "another unrelated text mentioning adaptive query execution"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    keep = dedup.exact_dedup(docs).collect()
    keepers = {r["doc_id"] for r in keep}
    assert 0 in keepers and 1 not in keepers              # min-id survives
    assert {2, 3, 4} <= keepers
    assert len(keep) == 4


def test_minhash_arrow_matches_catalyst(spark, docs, rows_sha256):
    """The Arrow unique-shingle kernel emits exactly the (id, band,
    minhash) rows the retired pure-Catalyst ``aggregate`` spelling
    emitted on these rows (recorded digest) — incl. raw-split empty
    tokens (double spaces), short docs, empty and null text."""
    extra = spark.createDataFrame(
        [(100, "a  b c d"), (101, "x y"), (102, ""), (103, None),
         (100, "a  b c d")],   # duplicate id row: both rows kept
        "doc_id long, text string")
    d = docs.select("doc_id", "text").unionByName(extra)
    sig = dedup.minhash_signature(d)
    assert rows_sha256(sig) == (
        28, "f14d2aee74b6423e5409288ed8c99ec21e25540668bd0865f66431d43d0a77d1")
    ids = [r[0] for r in sig.collect()]
    # the double-space doc shingles over the EMPTY token ("a  b"
    # contract), once per duplicate row; short / empty / null emit none
    assert ids.count(100) == 8
    assert not {101, 102, 103} & set(ids)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs                                # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs             # near dup shares a band
    assert (3, 4) not in pairs                            # unrelated don't


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_id=None).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] > 0.8
    assert pairs[(3, 4)] < 0.1


def test_simhash_near_pairs(spark):
    base = BASE
    rows = [(0, base), (1, base),                       # identical (hamming 0)
            (2, base.replace("kitchen", "kitchon")),    # tiny perturbation
            (3, "entirely different words about catalyst optimizer rules"),
            (4, "spark adaptive execution and shuffle partition tuning")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_pairs(df, max_hamming=8, n_bands=16).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 8
    assert (3, 4) not in pairs and (0, 3) not in pairs


def test_simhash_dup_and_near(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert sh[0] == sh[1]
    ham02 = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham03 = bin((sh[0] ^ sh[3]) & ((1 << 64) - 1)).count("1")
    assert ham02 < ham03                                  # near dup is closer
    groups = dedup.simhash_groups(docs).collect()
    assert any(g["n_docs"] == 2 for g in groups)


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((100, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), vecs


def _numpy_topk(vecs, q, k):
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(vecs)), -sims))
    return [int(i) for i in order[:k]]


def test_cosine_topk_matches_numpy(spark, emb_df):
    df, vecs = emb_df
    q = vecs[0].astype(np.float64)
    got = [r["vec_id"] for r in
           similarity.cosine_topk(df, [float(x) for x in q], k=10).collect()]
    assert got == _numpy_topk(vecs.astype(np.float64), q, 10)


def test_lsh_topk_recall(spark, emb_df):
    df, vecs = emb_df
    q = vecs[0].astype(np.float64)
    exact = set(_numpy_topk(vecs.astype(np.float64), q, 10))
    approx = {r["vec_id"] for r in similarity.lsh_cosine_topk(
        df, [float(x) for x in q], k=10, n_planes=12, max_hamming=4).collect()}
    assert 0 in approx                                    # query vector found
    assert len(exact & approx) >= 5                       # reasonable recall


def test_lang_id_script(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "画像ベースのPDFからテキストを抽出します"),
        (2, "本文提取是网页数据处理的核心步骤之一"),
        (3, "한국어 텍스트 분류 테스트 문장입니다"),
        (4, "извлечение текста из веб-страниц"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["script_lang"]
           for r in textops.lang_id_script(df).collect()}
    assert got == {0: "en", 1: "ja", 2: "zh", 3: "ko", 4: "ru", 5: "unknown"}


def test_payload_metadata(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(20)), "ja") for i in range(8)]
    df = spark.createDataFrame(fixtures.build_pages_pdf(rows))
    meta = {r["url"]: r for r in multimodal.payload_metadata(df).collect()}
    for i in range(8):
        r = meta[fixtures.url_for(i)]
        if i % fixtures.EDGE_MOD == fixtures.EMPTY_AT:
            assert r["n_pages"] == 0
        elif r["kind"] == "spdf":
            doc = fixtures.build_document(i, rows[i][1])
            assert r["n_pages"] == len(doc.pages)
            assert r["max_width"] == max(p.width_px for p in doc.pages)
            assert r["n_words"] == sum(len(p.words) for p in doc.pages)
        assert r["payload_bytes"] > 0


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFF\0\0\0\0WEBP")        # WebP seam
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"\x00")


def _png_encode_filtered(arr, filters):
    """Test-side PNG writer applying a PRESCRIBED filter type per
    scanline (forward transform per spec §9) — exercises the decoder's
    unfilter paths, which png_solid (all filter-0) never hits."""
    import struct
    import zlib

    import numpy as np
    h, w = arr.shape[:2]
    nch = 1 if arr.ndim == 2 else arr.shape[2]
    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    px = arr.reshape(h, w * nch).astype(np.int32)
    raw = bytearray()
    for y, f in enumerate(filters):
        cur = px[y]
        prior = px[y - 1] if y else np.zeros_like(cur)
        left = np.concatenate([np.zeros(nch, np.int32), cur[:-nch]])
        ul = np.concatenate([np.zeros(nch, np.int32), prior[:-nch]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prior
        elif f == 3:
            enc = cur - ((left + prior) >> 1)
        else:
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, ul))
            enc = cur - pred
        raw += bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes()

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_decode_all_filter_types():
    rng = np.random.RandomState(7)
    for shape in [(5, 4, 3), (5, 4), (5, 4, 4), (5, 4, 2)]:
        arr = rng.randint(0, 256, shape, dtype=np.uint8)
        payload = _png_encode_filtered(arr, [0, 1, 2, 3, 4])
        got = multimodal.decode_image(payload)
        assert got.shape == arr.shape
        assert (got == arr).all(), shape


def test_png_decode_palette_and_errors():
    import struct
    import zlib

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    # 2x2 paletted: indices [[0,1],[1,0]] over a 2-entry palette
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 0, 255])
    raw = b"\x00\x00\x01" + b"\x00\x01\x00"
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"PLTE", plte)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    got = multimodal.decode_image(payload)
    assert (got == np.array([[[255, 0, 0], [0, 0, 255]],
                             [[0, 0, 255], [255, 0, 0]]])).all()
    # CRC corruption must raise ValueError, not decode garbage
    bad = bytearray(fixtures.png_solid(4, 4, 9))
    bad[20] ^= 0xFF
    with pytest.raises(ValueError):
        multimodal.decode_image(bytes(bad))
    # 16-bit decodes via the high-byte presentation; a WRONG-SIZED
    # interlaced stream is corrupt (Adam7 decodes for real)
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    # big-endian 16-bit samples 0xAB01 x4: high byte 0xAB
    row16 = b"\x00" + b"\xab\x01" * 2
    p16 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
           + chunk(b"IDAT", zlib.compress(row16 * 2)) + chunk(b"IEND", b""))
    g16 = multimodal.decode_image(p16)
    assert g16.shape == (2, 2) and (g16 == 0xAB).all()
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    p_i = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_i)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        multimodal.decode_image(p_i)


def _png_encode_adam7(arr):
    """Test-side Adam7 writer: each pass is the sub-image at the spec's
    offsets/strides, filter-0 scanlines, all passes in one zlib stream."""
    import struct
    import zlib

    import numpy as np
    h, w = arr.shape[:2]
    nch = 1 if arr.ndim == 2 else arr.shape[2]
    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    a3 = arr.reshape(h, w, nch)
    raw = bytearray()
    for x0, y0, dx, dy in multimodal.ADAM7:
        sub = a3[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.astype(np.uint8).tobytes()

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_adam7_interlaced():
    rng = np.random.RandomState(17)
    for shape in [(8, 8, 3), (13, 9), (5, 4, 4), (1, 1), (3, 17, 2)]:
        arr = rng.randint(0, 256, shape, dtype=np.uint8)
        got = multimodal.decode_image(_png_encode_adam7(arr))
        assert got.shape == arr.shape and (got == arr).all(), shape


def test_jaccard_verify_pairs(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_verify_pairs(pairs, docs).collect()}
    assert set(got) == {(0, 1), (0, 2), (0, 3)}           # pairs only, no cross join
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] > 0.8
    assert got[(0, 3)] < 0.1


def test_connected_components_min(spark):
    """Every component is labeled by its minimum id."""
    # chain 1-2-3, isolated pair 5-6, self-contained triangle 8-9/9-10/8-10
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (8, 10)],
        "id_a long, id_b long")
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components_star(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components_star(pairs).count() == 0


def test_verified_near_dup_losers(spark, docs):
    # docs 0,1,2 are a verified near-dup component (keep 0); 3 and 4 are
    # dissimilar — even if LSH buckets them, verification must keep them
    losers = {r["doc_id"]
              for r in dedup.verified_near_dup_losers(docs, threshold=0.5).collect()}
    assert losers == {1, 2}


def test_verified_near_dup_respects_threshold(spark, docs):
    # at an impossible threshold nothing may be dropped
    assert dedup.verified_near_dup_losers(docs, threshold=1.01).count() == 0


@pytest.fixture(scope="module")
def neardup_emb(spark):
    """60 background vectors + 10 planted clone pairs (cosine ~0.998)."""
    rng = np.random.RandomState(11)
    base = rng.standard_normal((60, 32))
    clones_a = rng.standard_normal((10, 32))
    clones_b = clones_a + 0.05 * rng.standard_normal((10, 32))
    vecs = np.vstack([base, clones_a, clones_b]).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_lsh_vs_exact(spark, neardup_emb):
    exact = {(r["id_a"], r["id_b"])
             for r in similarity.embedding_near_dup_exact(
                 neardup_emb, threshold=0.9).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_near_dup_pairs(
               neardup_emb, threshold=0.9, dim=32).collect()}
    planted = {(60 + i, 70 + i) for i in range(10)}
    assert planted <= exact                 # ground truth sanity
    assert lsh <= exact                     # precision 1: exact rerank
    assert planted <= lsh                   # every true clone pair found
    assert len(lsh) / len(exact) >= 0.9     # high recall at near-dup sims


def test_embedding_near_dup_no_crossjoin_plan(spark, neardup_emb):
    plan = similarity.embedding_near_dup_pairs(
        neardup_emb, threshold=0.9, dim=32)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def _bmp_bytes(arr):
    """Minimal 24-bit BI_RGB BMP encoder (bottom-up, BGR, 4-byte stride)."""
    import struct
    h, w = arr.shape[:2]
    stride = ((3 * w + 3) // 4) * 4
    body = bytearray()
    for row in arr[::-1]:
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])
        line += b"\x00" * (stride - len(line))
        body += line
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                          2835, 2835, 0, 0)
    return bytes(header + body)


def test_decode_image_bmp_roundtrip():
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    got = multimodal.decode_image(_bmp_bytes(arr))
    assert got.shape == (5, 7, 3)
    assert (got == arr).all()


def test_decode_image_ppm_roundtrip():
    rng = np.random.RandomState(4)
    arr = rng.randint(0, 256, (4, 6, 3), dtype=np.uint8)
    payload = b"P6\n# comment\n6 4\n255\n" + arr.tobytes()
    got = multimodal.decode_image(payload)
    assert (got == arr).all()
    gray = rng.randint(0, 256, (3, 5), dtype=np.uint8)
    got = multimodal.decode_image(b"P5 5 3 255 " + gray.tobytes())
    assert (got == gray).all()


def test_image_features_kernel(spark):
    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    rows = [("a", bytearray(_bmp_bytes(arr))),
            ("b", bytearray(b"P6 2 2 255 " + bytes(12))),
            ("c", bytearray(b"\x89PNG garbage")),
            ("d", None)]
    df = spark.createDataFrame(rows, "id string, image binary")
    got = {r["id"]: r for r in multimodal.image_features(df).collect()}
    assert (got["a"]["format"], got["a"]["width"], got["a"]["height"],
            got["a"]["channels"], got["a"]["err"]) == ("bmp", 8, 8, 3, None)
    lum = (arr[..., 0] * 0.299 + arr[..., 1] * 0.587 + arr[..., 2] * 0.114).mean()
    assert abs(got["a"]["mean_lum"] - lum) < 1e-9
    assert (got["b"]["format"], got["b"]["mean_lum"]) == ("ppm", 0.0)
    assert got["c"]["err"] == "NotImplementedError"   # codec seam, no task failure
    assert got["d"]["err"] == "null_payload"


def test_token_count_bpe(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(0, "hello world"), (1, "don't stop; x=42"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in textops.token_count_bpe(df).collect()}
    # don ' t stop ; x = 42 -> 8
    assert got == {0: 2, 1: 8, 2: 0, 3: None}


def _py_winnow(text, k=8, w=4):
    import hashlib, re
    t = re.sub(r"\s+", " ", text).lower()
    h = [hashlib.md5(t[i:i + k].encode()).hexdigest()
         for i in range(len(t) - k + 1)]
    if not h:
        return set()
    if len(h) < w:
        return set(h)
    return {min(h[j:j + w]) for j in range(len(h) - w + 1)}


def test_winnow_fingerprints_matches_reference(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(0, "The quick brown fox jumps over the lazy dog"),
            (1, "The quick brown fox jumps over the lazy cat"),
            (2, "tiny"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in textops.winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for did, text in rows:
        assert got.get(did, set()) == _py_winnow(text), did
    # near-identical docs share most selected fingerprints
    inter = got[0] & got[1]
    assert len(inter) / len(got[0] | got[1]) > 0.5


def test_winnow_arrow_matches_catalyst(spark, rows_sha256):
    """Arrow unique-gram winnowing emits exactly the rows the retired
    Catalyst HOF spelling emitted here (recorded digest), incl. unicode
    whitespace normalization (U+3000, NBSP), short docs, and the
    fewer-than-w-grams branch."""
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(0, "The quick　brown fox jumps over the lazy dog"),
            (1, "exactly9ch"), (2, "tiny"), (3, ""), (4, None),
            (5, "repeat repeat repeat repeat repeat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = textops.winnow_fingerprints(df)
    assert rows_sha256(fps) == (
        20, "d1ff35849b4a488da42cfc4e8acfd069c960076a74a37f059d803d1bb7dc9b89")
    ids = [r[0] for r in fps.collect()]
    # 10 chars -> 3 k-grams < w: all three kept; shorter than k: none
    assert ids.count(1) == 3
    assert not {2, 3, 4} & set(ids)


def _wav_bytes(rate=8000, n=800, channels=1, amp=0.5):
    import struct
    t = np.arange(n)
    sig = (amp * 32767 * np.sin(2 * np.pi * 440 * t / rate)).astype("<i2")
    data = np.repeat(sig, channels).tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                 rate * channels * 2, channels * 2, 16)
    hdr += b"data" + struct.pack("<I", len(data))
    return hdr + data


def test_audio_features_kernel(spark):
    rows = [("a", bytearray(_wav_bytes())),
            ("b", bytearray(_wav_bytes(rate=16000, n=1600, channels=2))),
            ("c", bytearray(b"OggS not a wav")),
            ("d", None)]
    df = spark.createDataFrame(rows, "id string, audio binary")
    got = {r["id"]: r for r in multimodal.audio_features(df).collect()}
    a = got["a"]
    assert (a["sample_rate"], a["channels"], a["n_frames"]) == (8000, 1, 800)
    assert abs(a["duration_sec"] - 0.1) < 1e-9
    assert abs(a["rms"] - 0.5 / np.sqrt(2)) < 0.01      # sine RMS = amp/sqrt(2)
    assert 0.49 < a["peak"] <= 0.51
    b = got["b"]
    assert (b["sample_rate"], b["channels"], b["n_frames"]) == (16000, 2, 1600)
    assert got["c"]["err"] == "ValueError"
    assert got["d"]["err"] == "null_payload"


def test_ivf_topk_recall(spark, emb_df):
    df, vecs = emb_df
    q = vecs[0].astype(np.float64)
    exact = _numpy_topk(vecs.astype(np.float64), q, 10)
    cents = similarity.train_ivf_centroids(df, n_lists=8, sample=100)
    approx = [r["vec_id"] for r in similarity.ivf_cosine_topk(
        df, [float(x) for x in q], k=10, n_lists=8, n_probe=4,
        centroids=cents).collect()]
    assert 0 in approx                                    # query vector found
    assert len(set(exact) & set(approx)) >= 6             # probe-4/8 recall
    # n_probe = n_lists degenerates to the exact scan
    full = [r["vec_id"] for r in similarity.ivf_cosine_topk(
        df, [float(x) for x in q], k=10, n_lists=8, n_probe=8,
        centroids=cents).collect()]
    assert full == exact


def test_ivf_assignment_partitions_all_rows(spark, emb_df):
    df, _ = emb_df
    cents = similarity.train_ivf_centroids(df, n_lists=8, sample=100)
    lists = df.select(
        similarity.ivf_list_expr("embedding", cents).alias("l")).collect()
    vals = {r["l"] for r in lists}
    assert vals <= set(range(8)) and len(lists) == 100


def test_audio_features_malformed_headers_quarantine(spark):
    import struct
    # truncated fmt chunk (size says 16, body has 8) and zero channels
    trunc = (b"RIFF" + struct.pack("<I", 24) + b"WAVE"
             + b"fmt " + struct.pack("<I", 16) + b"\x00" * 8)
    zeroch = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
              + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 0, 8000, 0, 0, 16)
              + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    df = spark.createDataFrame(
        [("t", bytearray(trunc)), ("z", bytearray(zeroch))],
        "id string, audio binary")
    got = {r["id"]: r["err"] for r in multimodal.audio_features(df).collect()}
    assert got == {"t": "ValueError", "z": "ValueError"}  # rows, not failures


def test_embedding_near_dup_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.embedding_near_dup_pairs(df).count() == 0


def test_nfc_normalize_combining_chars(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    import unicodedata
    rows = [(0, "éclair"),       # e + combining acute -> é
            (1, "ガ"),                  # already composed katakana GA
            (2, "ガ"),            # KA + combining voiced mark -> ガ
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["nfc_text"]
           for r in textops.nfc_normalize(df).collect()}
    for did, t in rows:
        assert got[did] == (unicodedata.normalize("NFC", t)
                            if t is not None else None)
    assert got[2] == "ガ" and got[0].startswith("é")


def test_sketch_impl_paths_agree(spark, neardup_emb):
    """The Catalyst and numpy sign-sketch spellings agree bit for bit on
    real data (a divergence needs a dot product at an exact sign
    boundary — astronomically unlikely; this pins it for the fixtures),
    and ``sign_sketch`` takes numpy past the Catalyst budget: 64 planes
    × dim 32 = 2048 coefficients."""
    planes = similarity.hyperplanes(32, 64, seed=42)
    assert planes.size > similarity.CATALYST_HOF_BUDGET
    both = neardup_emb.select(
        "vec_id",
        similarity.sketch_expr("embedding", planes).alias("cat"),
        similarity.sign_sketch("embedding", planes).alias("npy"))
    assert "ArrowEvalPython" in \
        both._jdf.queryExecution().executedPlan().toString()
    rows = both.collect()
    assert len(rows) == 80
    assert [r["vec_id"] for r in rows if r["cat"] != r["npy"]] == []
    pairs = similarity.embedding_near_dup_pairs(
        neardup_emb, threshold=0.9, dim=32, n_planes=64, n_bands=8)
    assert pairs.count() >= 10


def test_ivf_train_guards_empty_and_null(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no non-null"):
        similarity.train_ivf_centroids(empty)
    nulls = spark.createDataFrame([(0, None), (1, None)],
                                  "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no non-null"):
        similarity.train_ivf_centroids(nulls)
    zeros = np.zeros((4, 8))
    with pytest.raises(ValueError, match="zero vectors"):
        similarity.train_centroids_np(zeros)


def test_ppm_header_strictness():
    good = b"P5 4 4 255\n" + bytes(range(16))
    assert multimodal.decode_image(good).shape == (4, 4)
    # CRLF after maxval would shift pixel data by one byte: reject loudly
    with pytest.raises(ValueError, match="CRLF"):
        multimodal.decode_image(b"P5 4 4 255\r\n" + bytes(range(16)))
    with pytest.raises(ValueError):
        multimodal.decode_image(b"P5 0 4 255\n")       # zero dimension
    with pytest.raises(ValueError):
        multimodal.decode_image(b"P5 4 4 255")          # unterminated maxval


def test_simhash_batch_kernel_matches_reference_loop(spark):
    """The factorized batch kernel must equal the definitional per-token
    md5 loop bit-for-bit (incl. None/empty/whitespace rows)."""
    import hashlib
    rows = [(0, BASE), (1, ""), (2, None), (3, "one"), (4, "a a a b"),
            (5, "日本　語 mixed\x0bws")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(df).collect()}

    def ref(t):
        if not t:
            return 0
        acc = [0] * 64
        for tok in t.split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for k in range(64):
                acc[k] += 1 if (h >> k) & 1 else -1
        sig = sum((1 << k) for k in range(64) if acc[k] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    for did, t in rows:
        assert got[did] == ref(t), did


def test_media_fixture_closed_forms():
    """The multimodal fixture payloads must keep their closed-form feature
    values (the SQL oracles state them as literals in doc_id)."""
    import numpy as np
    arr = multimodal.decode_image(fixtures.bmp_solid(16, 16, 10, 20, 30))
    assert arr.shape == (16, 16, 3)
    assert (arr == [10, 20, 30]).all()                    # BGR -> RGB
    arr32 = multimodal.decode_image(fixtures.bmp_solid(16, 16, 10, 20, 30, bpp=32))
    assert (arr32 == arr).all()
    g = multimodal.decode_image(fixtures.pgm_solid(16, 16, 77))
    assert g.shape == (16, 16) and (g == 77).all()
    p = multimodal.decode_image(fixtures.png_solid(16, 16, 10, 20, 30))
    assert p.shape == (16, 16, 3) and (p == [10, 20, 30]).all()
    pg = multimodal.decode_image(fixtures.png_solid(16, 16, 77))
    assert pg.shape == (16, 16) and (pg == 77).all()
    rate, ch, samples = multimodal.decode_wav(
        fixtures.wav_const(8000, 1024, 1, 16, 123))
    assert (rate, ch, samples.shape) == (8000, 1, (1024, 1))
    assert float(np.abs(samples).max()) == 123 / 32768    # exact dyadic
    rate8, _, s8 = multimodal.decode_wav(fixtures.wav_const(8000, 64, 1, 8, 10))
    assert float(s8[0, 0]) == (10 - 128) / 128
    with pytest.raises(NotImplementedError):
        multimodal.decode_wav(fixtures.wav_const(8000, 64, 1, 32, 0, audio_fmt=3))


def test_chunk_documents_reconstructs_token_stream(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(0, " ".join(f"t{i}" for i in range(95))),   # 2 windows + tail
            (1, "short doc"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = textops.chunk_documents(df, chunk_tokens=50, overlap=10).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == [0, 1]                      # empty/null: no chunks
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c0] == [0, 1, 2]
    assert c0[0]["chunk_tokens"] == 50 and c0[2]["chunk_tokens"] == 95 - 80
    # overlap contract: chunk i starts at token i*40
    toks = rows[0][1].split()
    for r in c0:
        start = r["chunk_idx"] * 40
        assert r["chunk_text"] == " ".join(toks[start:start + 50])
    assert by_doc[1][0]["chunk_text"] == "short doc"


def test_chunk_documents_no_duplicate_only_tail(spark):
    """81 tokens, 50/10 windows: starts [1, 41] — a third chunk at 81
    would contain ONLY token 81, already inside chunk 41..90's range
    (pure duplicate training data).  Coverage must stay total."""
    from image_pdf_ocr_suite_spark.analytics import text as textops
    toks = [f"t{i}" for i in range(81)]
    df = spark.createDataFrame([(0, " ".join(toks))], "doc_id long, text string")
    chunks = sorted(textops.chunk_documents(df, chunk_tokens=50, overlap=10)
                    .collect(), key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in chunks] == [0, 1]
    # every token appears in some chunk (coverage), none beyond n
    covered = set()
    for r in chunks:
        covered.update(r["chunk_text"].split())
    assert covered == set(toks)
    # a 10-token doc still yields its single (short) chunk
    df2 = spark.createDataFrame([(0, " ".join(toks[:10]))],
                                "doc_id long, text string")
    one = textops.chunk_documents(df2, chunk_tokens=50, overlap=10).collect()
    assert len(one) == 1 and one[0]["chunk_tokens"] == 10


def test_repetition_stats_flags_degenerate_text(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(0, "spam spam spam spam ham"), (1, "all tokens here differ"),
            (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.repetition_stats(df).collect()}
    assert got[0]["rep_ratio"] == 4 / 5 and got[0]["top_token_n"] == 4
    assert got[1]["rep_ratio"] == 1 / 4
    assert got[2]["n_tokens"] == 0 and got[2]["rep_ratio"] == 0.0
    assert got[3]["n_tokens"] == 0


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(i, "x", "en" if i % 2 == 0 else "ja") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept1 = {r["doc_id"] for r in
             textops.stratified_sample(df, {"en": 10, "ja": 50}).collect()}
    kept2 = {r["doc_id"] for r in textops.stratified_sample(
        df.repartition(13), {"en": 10, "ja": 50}).collect()}
    assert kept1 == kept2                                 # partition-invariant
    en = sum(1 for d in kept1 if d % 2 == 0) / 1000
    ja = sum(1 for d in kept1 if d % 2 == 1) / 1000
    assert 0.05 < en < 0.16 and 0.42 < ja < 0.58


def test_bm25_scores_hand_computed(spark):
    import math
    from image_pdf_ocr_suite_spark.analytics import text as textops
    rows = [(0, "a b a c"), (1, "a d"), (2, "d d d"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           textops.bm25_scores(df, ["a", "zz"]).collect()}
    n, sumdl = 4, 4 + 2 + 3 + 0
    avgdl = sumdl / n
    dfa = 2                                   # docs 0 and 1 contain 'a'
    idf_a = math.log(1 + (n - dfa + 0.5) / (dfa + 0.5))
    idf_z = math.log(1 + (n - 0 + 0.5) / 0.5)

    def bm25(tf, dl):
        return idf_a * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert abs(got[0]["score"] - bm25(2, 4)) < 1e-12
    assert abs(got[1]["score"] - bm25(1, 2)) < 1e-12
    assert got[2]["score"] == 0.0 and got[2]["n_terms_hit"] == 0
    assert got[3]["score"] == 0.0             # null text -> dl 0, tf 0
    assert got[0]["n_terms_hit"] == 1         # 'zz' hits nowhere
    assert idf_z > 0                          # zero-df term is well-defined


def test_bm25_has_no_data_shuffle(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    plan = textops.bm25_scores(df, ["a"]) \
        ._jdf.queryExecution().executedPlan().toString()
    # global stats reduce (SinglePartition) + broadcast back only — the
    # document rows themselves never shuffle
    assert "hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sample_frames_svid_and_seam(spark):
    import numpy as np
    clip = fixtures.svid_video(4, 3, [10, 20, 30, 40, 50])
    frames = multimodal.sample_frames(clip, every_n=2)
    assert [(i, f.shape, int(f[0, 0])) for i, f in frames] == \
        [(0, (3, 4), 10), (2, (3, 4), 30), (4, (3, 4), 50)]
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"\x00\x00\x00\x20ftypmp42")  # MP4 seam
    with pytest.raises(ValueError):
        multimodal.sample_frames(clip[:-5])                    # truncated
    rows = [("a", bytearray(clip)),
            ("b", bytearray(b"\x00\x00\x00\x20ftypmp42")),
            ("c", bytearray(clip[:8])),
            ("d", None)]
    df = spark.createDataFrame(rows, "id string, video binary")
    got = {}
    for r in multimodal.video_frame_features(df, every_n=2).collect():
        got.setdefault(r["id"], []).append(r)
    assert [r["frame_idx"] for r in sorted(got["a"], key=lambda r: r["frame_idx"])] == [0, 2, 4]
    assert all(r["err"] is None for r in got["a"])
    assert got["b"][0]["err"] == "NotImplementedError"
    assert got["c"][0]["err"] == "ValueError"
    assert got["d"][0]["err"] == "null_payload"


def test_audio_spectrum_pure_tone_and_edges(spark):
    rows = [("a", bytearray(fixtures.wav_sine(8000, 1024, 17))),
            ("b", bytearray(fixtures.wav_const(8000, 64, 1, 32, 0, audio_fmt=3))),
            ("c", None),
            ("d", bytearray(fixtures.wav_const(8000, 256, 2, 16, 500)))]
    df = spark.createDataFrame(rows, "id string, audio binary")
    got = {r["id"]: r for r in multimodal.audio_spectrum(df).collect()}
    assert (got["a"]["dominant_bin"], got["a"]["dominant_hz"]) == \
        (17, 17 * 8000 / 1024)
    assert got["b"]["err"] == "NotImplementedError"
    assert got["c"]["err"] == "null_payload"
    assert got["d"]["dominant_bin"] == 0         # constant signal -> DC


def test_png_and_pnm_16bit_high_byte():
    import struct
    import zlib

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    # 16-bit RGB PNG: per-pixel (0x10zz, 0x20zz, 0x30zz) -> (16, 32, 48)
    px = b"\x10\xff\x20\x00\x30\x7f"
    raw = (b"\x00" + px * 3) * 2
    ihdr = struct.pack(">IIBBBBB", 3, 2, 16, 2, 0, 0, 0)
    p = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
         + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    got = multimodal.decode_image(p)
    assert got.shape == (2, 3, 3) and (got == [0x10, 0x20, 0x30]).all()
    # 16-bit PGM (maxval 65535, big-endian)
    pgm = b"P5 2 2 65535\n" + b"\x40\x01" * 4
    g = multimodal.decode_image(pgm)
    assert g.shape == (2, 2) and (g == 0x40).all()
    # 16-bit PPM
    ppm = b"P6 2 1 65535\n" + b"\x11\x00\x22\x00\x33\x00" * 2
    c = multimodal.decode_image(ppm)
    assert c.shape == (1, 2, 3) and (c == [0x11, 0x22, 0x33]).all()


def test_png_16bit_adam7_combination():
    import struct
    import zlib

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    vals = np.arange(9, dtype=np.uint16).reshape(3, 3) * 16
    raw = bytearray()
    for x0, y0, dx, dy in multimodal.ADAM7:
        sub = vals[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            raw += b"\x00" + b"".join(
                struct.pack(">H", (int(v) << 8) | 0x5A) for v in row)
    ihdr = struct.pack(">IIBBBBB", 3, 3, 16, 0, 0, 0, 1)
    p = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
         + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    got = multimodal.decode_image(p)
    assert got.shape == (3, 3) and (got == vals.astype(np.uint8)).all()


def test_pnm_nonstandard_maxval_scales():
    """ADVICE r4: for 255 < maxval < 65535 the raw high byte is wrong
    (999/1023 would read as 3); samples must scale by 255/maxval.  Sub-255
    maxvals had the analogous unscaled-presentation bug."""
    # 16-bit with maxval 1023: value 999 -> round(999*255/1023) = 249
    pgm = b"P5 2 1 1023\n" + (999).to_bytes(2, "big") + (0).to_bytes(2, "big")
    got = multimodal.decode_image(pgm)
    assert got.tolist() == [[249, 0]]
    # full-scale stays full-scale at any maxval
    pgm = b"P5 1 1 1023\n" + (1023).to_bytes(2, "big")
    assert multimodal.decode_image(pgm).tolist() == [[255]]
    # 8-bit sub-255 maxval: 15/15 -> 255, 7/15 -> round(119) = 119
    pgm = b"P5 2 1 15\n" + bytes([15, 7])
    assert multimodal.decode_image(pgm).tolist() == [[255, 119]]
    # maxval 65535 keeps matching the documented behavior (test above)
    pgm = b"P5 1 1 65535\n" + b"\x40\x01"
    assert multimodal.decode_image(pgm).tolist() == [[64]]


def test_bm25_empty_query_terms_raises(spark):
    from image_pdf_ocr_suite_spark.analytics import text as textops
    df = spark.createDataFrame([(0, "a b")], "id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        textops.bm25_scores(df, [])


def test_adversarial_html_cases_local_and_spark(spark):
    """r4 VERDICT item 7: adversarial HTML structures (link-heavy tables,
    comment bombs, inline <script>/ld+json, nested boilerplate, unclosed
    tags, entity refs) against GROUND-TRUTH expectations — both the bare
    classifier and the extraction path users run (``extract_pages`` over
    ``(url, html binary)`` rows) must agree.  The driver corpus itself
    stays frozen (byte-identity invariant)."""
    from image_pdf_ocr_suite_spark import extract_pages
    from image_pdf_ocr_suite_spark.fixtures import adversarial_html_cases
    from image_pdf_ocr_suite_spark.kernels.html import extract_main_text
    cases = adversarial_html_cases()
    for name, html, expected in cases:
        assert extract_main_text(html) == expected, name
    df = spark.createDataFrame(
        [(name, bytearray(html.encode("utf-8"))) for name, html, _ in cases],
        "url string, html binary")
    got = {r["url"]: (r["kind"], r["extracted_text"])
           for r in extract_pages(df).text.collect()}
    assert got == {name: ("html", exp) for name, _, exp in cases}
