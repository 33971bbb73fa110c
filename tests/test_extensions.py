"""Extension operators: dedup / similarity / text / multimodal semantics on
hand-built fixtures (the hash-based ops have no DuckDB oracle, so their
correctness is pinned here)."""

import pytest
from pyspark.sql import functions as F

from flink_cdc_multi_spark.operators import dedup as D
from flink_cdc_multi_spark.operators import multimodal as M
from flink_cdc_multi_spark.operators import similarity as S
from flink_cdc_multi_spark.operators import text as X

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different content about spark engines"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs, ["text"], "doc_id").collect())
    assert kept == [1, 2, 4, 5]  # 3 deduped into 1


def test_shingles_semantics(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    sh = sorted(df.select(F.explode(D.shingles(F.col("text"), 3)).alias("s")).toPandas()["s"])
    assert sh == ["a b c", "b c d"]
    # short text falls back to the whole string as one shingle
    df2 = spark.createDataFrame([(1, "a b")], "id long, text string")
    sh2 = df2.select(D.shingles(F.col("text"), 3).alias("s")).first()["s"]
    assert sh2 == ["a b"]


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc joins nothing


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["a_id"], r["b_id"]) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 3) in pairs  # exact dup always collides in every band
    assert (1, 2) in pairs  # high-jaccard near-dup
    assert not any(4 in p for a_b in pairs for p in [a_b])


def test_minhash_exact_dup_signature_identical(docs):
    sigs = {r["id"]: r["sig"] for r in D.minhash_signatures(docs).collect() if r["id"] in (1, 3)}
    assert sigs[1] == sigs[3]


def test_simhash_properties(docs):
    h = {r["id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert h[1] == h[3]  # identical text → identical simhash
    ham_near = bin(h[1] ^ h[2]).count("1")
    ham_far = bin(h[1] ^ h[4]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated


def test_simhash_pairs_hamming(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 3)) == 0


def test_minhash_md5_pairs_match_fast_path_on_fixture(docs):
    """The oracle-checked md5 banded-LSH pair form and the xxhash64 fast
    path implement the same pipeline; on the fixture both must find the
    exact dup and the near dup and exclude the unrelated doc."""
    md5_pairs = {
        (r["a_id"], r["b_id"]): r["n_agree"]
        for r in D.minhash_lsh_pairs_md5(docs).collect()
    }
    assert md5_pairs.get((1, 3)) == 16  # exact dup: all 16 minhashes agree
    assert (1, 2) in md5_pairs and md5_pairs[(1, 2)] >= 8
    assert not any(4 in p for p in md5_pairs)
    fast = {(r["a_id"], r["b_id"]) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert {(1, 2), (1, 3)} <= fast


def test_simhash_md5_pairs_fixture(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in D.simhash_pairs_md5(docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 3)) == 0  # identical text → hamming 0
    assert not any(4 in p for p in pairs)


def test_minhash_fused_pairs_exact_vs_python_reference(spark):
    """The fused banded pair path (r10, all LSH paths) must emit exactly
    the candidate set {(a,b) : ∃ band with equal signature slice, est ≥
    threshold}, each pair EXACTLY ONCE (the emit-once first-equal-band
    filter replaces a dropDuplicates — a bug there shows up as duplicate
    or missing pair rows). Reference: plain Python over the collected
    signatures of a random corpus with planted dup clusters."""
    import random

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    doc_id = 0
    for cluster in range(8):
        base = " ".join(rng.choices(vocab, k=12))
        for rep in range(rng.randint(1, 4)):  # planted near-dup cliques
            text = base if rep == 0 else base + " " + rng.choice(vocab)
            rows.append((doc_id, text))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    num_hashes, bands, thr = 16, 4, 0.5
    rpb = num_hashes // bands
    sigs = {
        r["id"]: list(r["sig"])
        for r in D.minhash_signatures(docs, num_hashes=num_hashes).collect()
    }
    expected = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sigs[a], sigs[b]
            if any(sa[k * rpb:(k + 1) * rpb] == sb[k * rpb:(k + 1) * rpb]
                   for k in range(bands)):
                est = round(sum(x == y for x, y in zip(sa, sb)) / num_hashes, 4)
                if est >= thr:
                    expected[(a, b)] = est

    got_rows = D.minhash_lsh_pairs(
        docs, num_hashes=num_hashes, bands=bands, threshold=thr
    ).collect()
    got = {(r["a_id"], r["b_id"]): r["est_jaccard"] for r in got_rows}
    assert len(got_rows) == len(got), "pair emitted more than once"
    assert got == expected


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0]),  # ~same direction as 1
        (3, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["a_id"], r["b_id"]) for r in D.embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert pairs == {(1, 2)}


def test_brute_force_topk_exact(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0]), (13, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    got = [(r["rank"], r["nid"]) for r in S.brute_force_topk(corpus, queries, k=3).collect()]
    assert got == [(1, 10), (2, 11), (3, 12)]


def test_brute_force_topk_overlength_query_does_not_redefine_dim(spark):
    """ADVICE r11: dim inference must be MODAL, not max — one hostile
    query row LONGER than the true dimension must be dropped itself, not
    redefine the dimension and drop every valid query. Both branches and
    the explicit-dim contract are pinned."""
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0]), (13, None)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.25, 0.25, 0.25])],
        "vec_id long, embedding array<double>",
    )
    expect = {(1, 1, 10), (1, 2, 11), (2, 1, 12), (2, 2, 11)}
    for kwargs in (
        {"vectorized": True},
        {"vectorized": True, "dim": 2},
        {"vectorized": False, "dim": 2},
    ):
        got = {
            (r["qid"], r["rank"], r["nid"])
            for r in S.brute_force_topk(corpus, queries, k=2, **kwargs).collect()
        }
        assert got == expect, (kwargs, got)
    # non-vectorized with no dim: NULLs still drop (IS NOT NULL contract),
    # and the ragged query scores against length-compatible prefixes only
    # to the extent zip_with allows — assert the NULL corpus row never
    # surfaces for the valid queries
    got = {
        (r["qid"], r["rank"], r["nid"])
        for r in S.brute_force_topk(corpus, queries, k=2, vectorized=False).collect()
    }
    assert {(q, r, n) for (q, r, n) in got if q in (1, 2)} == expect


def test_lsh_topk_recall_vs_exact(spark, tmp_path):
    # deterministic synthetic corpus; LSH with multiprobe should recover the
    # exact top-1 for most queries (recall tolerance, not exactness)
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((200, 16)).astype(float)
    corpus = spark.createDataFrame(
        [(i + 100, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    qvecs = vecs[:10] + rng.standard_normal((10, 16)) * 0.05  # perturbed corpus vecs
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qvecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        r["qid"]: r["nid"]
        for r in S.brute_force_topk(corpus, queries, k=1).collect()
    }
    approx = {
        r["qid"]: r["nid"]
        for r in S.lsh_topk(corpus, queries, dim=16, k=1, n_planes=8).collect()
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 7  # ≥70% top-1 recall with multiprobe


def test_text_stats(spark):
    df = spark.createDataFrame([(1, "a bb  ccc a"), (2, "")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in X.quality_stats(df).collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["ttr"] == 0.75  # 3 distinct / 4
    assert rows[1]["mean_tok_len"] == 1.75  # (1+2+3+1)/4
    assert rows[2]["n_tokens"] == 0 and rows[2]["ttr"] == 0.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the hat"),
            (2, "der Hund und die Katze"),
            (3, "le chat et les chiens"),
            (4, "el gato y los perros"),
            (5, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", X.lang_id(F.col("text")).alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " hello   WORLD \t")],
        "doc_id long, text string",
    )
    fps = {r["fp"] for r in X.fingerprint_docs(df).collect()}
    assert len(fps) == 1  # all normalize to the same fingerprint


def _jpeg_fixture(width, height, progressive=False):
    """Hand-built minimal JPEG: SOI + APP0(JFIF) + SOF0/SOF2 + EOI."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = sof_marker + struct.pack(">HBHHB", 17, 8, height, width, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def _gif_fixture(width, height):
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"


def test_parse_image_header_formats():
    """Real header decode over hand-built byte fixtures — PNG IHDR, JPEG
    SOF0/SOF2 (baseline + progressive), GIF logical screen; garbage and
    truncated input degrade to nulls, never exceptions."""
    assert M.parse_image_header(M.make_tiny_png(640, 480)) == ("png", 640, 480)
    assert M.parse_image_header(_jpeg_fixture(1920, 1080)) == ("jpeg", 1920, 1080)
    assert M.parse_image_header(_jpeg_fixture(32, 24, progressive=True)) == ("jpeg", 32, 24)
    assert M.parse_image_header(_gif_fixture(320, 200)) == ("gif", 320, 200)
    assert M.parse_image_header(b"not an image") == (None, None, None)
    assert M.parse_image_header(b"") == (None, None, None)
    assert M.parse_image_header(M.make_tiny_png(1, 1)[:10]) == (None, None, None)


def test_multimodal_real_dims_decode(spark):
    """decode_image_features yields REAL dimensions (no fake escape hatch)
    through the Arrow-batched mapInPandas plumbing; mean_luma is null
    without the pixel-decode library, fake only when asked."""
    rows = [
        (1, bytearray(M.make_tiny_png(100, 50))),
        (2, bytearray(_jpeg_fixture(64, 32))),
        (3, bytearray(_gif_fixture(16, 8))),
        (4, bytearray(b"opaque-unknown-blob")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    by_id = {r["doc_id"]: r for r in M.decode_image_features(df).collect()}
    assert (by_id[1]["format"], by_id[1]["width"], by_id[1]["height"]) == ("png", 100, 50)
    assert (by_id[2]["format"], by_id[2]["width"], by_id[2]["height"]) == ("jpeg", 64, 32)
    assert (by_id[3]["format"], by_id[3]["width"], by_id[3]["height"]) == ("gif", 16, 8)
    assert by_id[4]["format"] is None and by_id[4]["width"] is None
    assert by_id[4]["byte_len"] == len(b"opaque-unknown-blob")
    assert all(r["mean_luma"] is None for r in by_id.values())

    faked = M.decode_image_features(df, fake_luma=True).collect()
    assert all(0.0 <= r["mean_luma"] <= 1.0 for r in faked)


def test_png_pixel_decode_roundtrip_all_filters():
    # make_png_rgb cycles scanline filters y % 5, so any height >= 5
    # exercises None/Sub/Up/Average/Paeth; the decoder must invert every
    # one to recover the closed-form pixel sums. (Encoder and decoder are
    # separately-written forward/inverse transcriptions of the PNG spec
    # formulas; the ext_multimodal_luma DuckDB oracle independently
    # recomputes the sums from the closed form.)
    for w, h, s in [(1, 1, 0), (4, 7, 255), (27, 19, 200), (8, 5, 31)]:
        blob = M.make_png_rgb(w, h, s)
        exp_sum = sum(
            299 * ((s + x) % 256) + 587 * ((s + y) % 256) + 114 * ((s + x + y) % 256)
            for x in range(w)
            for y in range(h)
        )
        assert M.png_luma_sum(blob) == (exp_sum, w * h)
        assert M.parse_image_header(blob) == ("png", w, h)


def test_png_pixel_decode_filter0_known_answer():
    # independent of the encoder's filter math: a filter-0-only PNG whose
    # IDAT raw bytes ARE the pixels, built inline — constant RGB
    # (10, 20, 30) over 2x2 → luma_sum = 4 * (299*10 + 587*20 + 114*30)
    import struct as st
    import zlib

    w = h = 2
    raw = b""
    for _ in range(h):
        raw += b"\x00" + bytes((10, 20, 30)) * w
    ihdr = st.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(raw))
        + M._png_chunk(b"IEND", b"")
    )
    assert M.png_luma_sum(blob) == (4 * (299 * 10 + 587 * 20 + 114 * 30), 4)


def test_png_pixel_decode_rejects_unsupported():
    # header-only container (no IDAT), truncation, palette type, garbage:
    # all None, never an exception
    assert M.png_luma_sum(M.make_tiny_png(5, 5)) is None
    assert M.png_luma_sum(M.make_png_rgb(4, 4, 1)[:40]) is None
    assert M.png_luma_sum(b"junk") is None
    import struct as st
    import zlib

    ihdr = st.pack(">II5B", 2, 2, 8, 3, 0, 0, 0)  # color type 3 = palette
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + M._png_chunk(b"IEND", b"")
    )
    assert M.png_luma_sum(blob) is None


def test_png_decoder_fuzz():
    """Property coverage for the stdlib PNG pixel decoder: (a) encode→
    decode roundtrip equals the closed form for random dims/seeds (all
    five filter types in play for h >= 5), (b) arbitrary byte garbage —
    including truncations and bit-flips of VALID PNGs, the nastiest
    inputs — returns None, never raises."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=0, max_value=255),
    )
    def roundtrip(w, h, s):
        exp = sum(
            299 * ((s + x) % 256) + 587 * ((s + y) % 256) + 114 * ((s + x + y) % 256)
            for x in range(w)
            for y in range(h)
        )
        assert M.png_luma_sum(M.make_png_rgb(w, h, s)) == (exp, w * h)

    @settings(max_examples=60, deadline=None)
    @given(st.binary(max_size=120), st.integers(0, 3))
    def garbage(blob, mode):
        if mode == 1:  # valid signature + garbage chunks
            blob = b"\x89PNG\r\n\x1a\n" + blob
        elif mode == 2:  # truncated valid PNG
            full = M.make_png_rgb(5, 6, 77)
            blob = full[: len(blob) % max(1, len(full))]
        elif mode == 3:  # bit-flipped valid PNG (corrupt zlib/filters)
            full = bytearray(M.make_png_rgb(5, 6, 77))
            if blob:
                full[blob[0] % len(full)] ^= 0xFF
            blob = bytes(full)
        r = M.png_luma_sum(bytes(blob))
        assert r is None or (isinstance(r, tuple) and len(r) == 2)

    roundtrip()
    garbage()


def test_real_luma_through_decode_image_features(spark):
    # PNG pixel decode is REAL in the Spark path: mean_luma equals the
    # closed-form integer sum / (1000 * n_px); non-PNG and pixel-less
    # containers stay null
    rows = [
        (1, bytearray(M.make_png_rgb(6, 5, 40))),
        (2, bytearray(M.make_tiny_png(100, 50))),  # no IDAT → null luma
        (3, bytearray(b"opaque")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    by_id = {r["doc_id"]: r for r in M.decode_image_features(df).collect()}
    s, n = M.png_luma_sum(M.make_png_rgb(6, 5, 40))
    assert abs(by_id[1]["mean_luma"] - s / (1000.0 * n)) < 1e-12
    assert by_id[1]["format"] == "png" and by_id[1]["width"] == 6
    assert by_id[2]["mean_luma"] is None
    assert by_id[3]["mean_luma"] is None


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 2500)], "doc_id long, duration_ms long")
    ts = [r["frame_ts_ms"] for r in M.frame_sample_plan(df, every_ms=1000).collect()]
    assert ts == [0, 1000, 2000]


def test_ivf_topk_recall_vs_exact(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((300, 16)).astype(float)
    corpus = spark.createDataFrame(
        [(i + 100, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    qvecs = vecs[:10] + rng.standard_normal((10, 16)) * 0.05
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qvecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {r["qid"]: r["nid"] for r in S.brute_force_topk(corpus, queries, k=1).collect()}
    approx = {
        r["qid"]: r["nid"]
        for r in S.ivf_topk(corpus, queries, k=1, n_clusters=8, n_probe=3).collect()
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 8  # near-identical queries land in probed cells


def test_embedding_lsh_neardup_recall(spark):
    # pairs found by the LSH path must be a subset of the exact pairs, and
    # catch the planted high-cosine near-dups
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.standard_normal((50, 16))
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    rows += [(100 + i, (base[i] + rng.standard_normal(16) * 0.01).tolist()) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["a_id"], r["b_id"])
        for r in D.embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in D.embedding_neardup_pairs_lsh(df, dim=16, threshold=0.95, n_planes=4).collect()
    }
    assert lsh <= exact
    planted = {(i, 100 + i) for i in range(5)}
    assert planted <= exact
    assert len(lsh & planted) >= 4  # near-identical vectors share buckets


def test_embedding_zero_norm_dropped_consistently(spark):
    # Zero-norm semantics pinned across paths: cosine with a zero vector is
    # 0/0 — NULL in the exact Spark fold (try_divide; a plain `/` would be
    # an ANSI DIVIDE_BY_ZERO *error*), NULL in DuckDB (x/0 → NULL), NaN in
    # the numpy LSH kernel. All three drop the pair at `>= threshold`;
    # none may crash.
    rows = [
        (1, [0.0] * 4),
        (2, [0.0] * 4),  # two zero vectors: 0/0 cosine
        (3, [1.0, 0.0, 0.0, 0.0]),
        (4, [1.0, 0.01, 0.0, 0.0]),  # genuine near-dup of 3
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["a_id"], r["b_id"])
        for r in D.embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    assert exact == {(3, 4)}  # zero-norm pair dropped, no ANSI crash
    lsh = {
        (r["a_id"], r["b_id"])
        for r in D.embedding_neardup_pairs_lsh(df, dim=4, threshold=0.95, n_planes=4).collect()
    }
    assert (1, 2) not in lsh
    assert lsh <= exact


def test_topk_drops_zero_norm_candidates(spark):
    """_rank_topk must DROP zero-norm candidates, not rank them NULLS-LAST:
    DuckDB's list_cosine_similarity yields NaN there, which sorts ABOVE
    real values under ORDER BY DESC — ranking instead of dropping would be
    a latent top-k oracle divergence (ADVICE r5)."""
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 0.0])],  # 12 zero-norm
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = [(r["rank"], r["nid"]) for r in S.brute_force_topk(corpus, queries, k=3).collect()]
    assert got == [(1, 10), (2, 11)]  # zero-norm candidate absent entirely


def test_quadratic_pair_guard_fires(spark):
    """Unscoped input above max_rows is refused — the exact pair operators
    must not be usable as accidental all-pairs scale paths."""
    import pytest as _pytest

    big = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(4)]).alias("embedding"),
    )
    with _pytest.raises(D.QuadraticScopeError):
        D.embedding_neardup_pairs(big, max_rows=10)
    docs = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    with _pytest.raises(D.QuadraticScopeError):
        D.ngram_jaccard_pairs(docs, max_rows=10)
    # max_rows=None is the deliberate override
    assert D.embedding_neardup_pairs(big, threshold=1.1, max_rows=None).count() == 0


def test_ivf_fit_on_sample_and_model_reuse(spark):
    """ivf_topk with a sub-corpus fit sample still probes the FULL corpus,
    and a prebuilt model is reused without refitting."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = emb.filter("vec_id < 5")
    corpus = emb.filter("vec_id >= 5")
    out = S.ivf_topk(corpus, queries, k=3, n_clusters=4, n_probe=4,
                     fit_sample_rows=50)
    got = out.collect()
    assert {r["qid"] for r in got} == {0, 1, 2, 3, 4}
    # n_probe == n_clusters -> probes every cell -> exact: matches brute force
    exact = S.brute_force_topk(corpus, queries, k=3).collect()
    assert {(r["qid"], r["rank"], r["nid"]) for r in got} == {
        (r["qid"], r["rank"], r["nid"]) for r in exact
    }

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=4, seed=42, featuresCol="features", predictionCol="cell").fit(feats)
    out2 = S.ivf_topk(corpus, queries, k=3, n_clusters=4, n_probe=4, model=model)
    assert out2.count() == 15


def test_hyperplane_signature_pandas_equals_sql(spark):
    """The numpy fast path and the Column-expression twin must produce
    bit-identical buckets — this identity is what licenses the DuckDB
    oracles for the LSH queries (integer math after quantization)."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((80, 16))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    fast = {r["vec_id"]: r["bucket"] for r in S.hyperplane_signature(df, 16, 8).collect()}
    sql = {r["vec_id"]: r["bucket"] for r in S.hyperplane_signature_sql(df, 16, 8).collect()}
    assert fast == sql
    assert len(set(fast.values())) > 1  # signatures actually discriminate


# -- CDC history / as-of / sampling queries ---------------------------------


SF_SMALL = "/root/testdata/sf0.001"


def test_scd2_intervals_chain_and_current(spark):
    """Per key: versions chain ([valid_from, valid_to) contiguous over the
    offset), exactly one open (current) version, and the current rows equal
    q07's latest image."""
    from flink_cdc_multi_spark.plans.extensions import ext_cdc_scd2
    from flink_cdc_multi_spark.plans.queries import q07

    hist = ext_cdc_scd2(spark, SF_SMALL).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["user_id"], []).append(r)
    assert by_key
    current = {}
    for uid, rows in by_key.items():
        rows.sort(key=lambda r: r["valid_from"])
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"], uid
        opens = [r for r in rows if r["valid_to"] is None]
        assert len(opens) == 1 and opens[0] is rows[-1]
        assert all(r["is_current"] == (1 if r["valid_to"] is None else 0) for r in rows)
        current[uid] = (opens[0]["event_type"], opens[0]["value"])
    latest = {
        r["user_id"]: (r["last_op"], r["last_value"])
        for r in q07(spark, SF_SMALL).collect()
    }
    assert current == latest


def test_asof_join_matches_bruteforce(spark):
    from flink_cdc_multi_spark.plans.extensions import ext_asof_join
    from flink_cdc_multi_spark.plans.queries import load_table

    got = {
        r["purchase_event_id"]: (r["click_event_id"], r["click_value"])
        for r in ext_asof_join(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "event_id", "event_type", "value"
    ).collect()
    clicks_by_user = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks_by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        prior = [c for c in clicks_by_user.get(r["user_id"], [])
                 if c["event_id"] <= r["event_id"]]
        best = max(prior, key=lambda c: c["event_id"]) if prior else None
        want[r["event_id"]] = (
            (best["event_id"], best["value"]) if best else (None, None)
        )
    assert got == want


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    from flink_cdc_multi_spark.plans.extensions import ext_sample_stratified
    from flink_cdc_multi_spark.plans.queries import load_table

    s1 = sorted(r["doc_id"] for r in ext_sample_stratified(spark, SF_SMALL).collect())
    s2 = sorted(r["doc_id"] for r in ext_sample_stratified(spark, SF_SMALL).collect())
    assert s1 == s2 and s1  # byte-stable across runs
    n_en = load_table(spark, SF_SMALL, "documents").filter(F.col("lang") == "en").count()
    got_en = (
        ext_sample_stratified(spark, SF_SMALL).filter(F.col("lang") == "en").count()
    )
    # md5 buckets are uniform-ish: en keep-rate 20% ± wide slack
    assert 0 < got_en < n_en
    assert all(r["bucket"] < 80 for r in ext_sample_stratified(spark, SF_SMALL).collect())


def test_parse_image_header_bmp_variants():
    import struct

    M_ = M
    # BITMAPINFOHEADER (40-byte): int32 dims at 18
    info = (b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
            + struct.pack("<ii", 640, -480) + b"\x00" * 8)
    assert M_.parse_image_header(info) == ("bmp", 640, 480)
    # BITMAPCOREHEADER (12-byte, OS/2): uint16 dims at 18
    core = (b"BM" + b"\x00" * 12 + struct.pack("<I", 12)
            + struct.pack("<HH", 100, 50) + b"\x00" * 8)
    assert M_.parse_image_header(core) == ("bmp", 100, 50)
    # unknown DIB header size: bmp but no fabricated dims
    weird = (b"BM" + b"\x00" * 12 + struct.pack("<I", 99)
             + struct.pack("<ii", 1, 1) + b"\x00" * 8)
    assert M_.parse_image_header(weird) == ("bmp", None, None)


def test_parse_image_header_jpeg_stops_at_eoi():
    # SOF-less fragment + trailing bytes that would decode as a bogus SOF
    # if the walk ran past EOI
    import struct

    trailing = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 9999, 9999, 3) + b"\x00" * 9
    frag = b"\xff\xd8\xff\xd9" + trailing
    assert M.parse_image_header(frag) == ("jpeg", None, None)


def test_vocab_topk_df_and_order(spark):
    import flink_cdc_multi_spark.operators.text as X

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),   # distinct per doc: alpha beta gamma
            (2, "alpha beta"),
            (3, "alpha delta"),
            (4, ""),                        # empty doc contributes nothing
            (5, "   "),                     # whitespace-only too
        ],
        "doc_id long, text string",
    )
    got = [(r["token"], r["doc_freq"]) for r in X.vocab_topk(docs, "text", k=2, min_df=2).collect()]
    # document frequency, not term frequency (beta counted once for doc 1);
    # tie between beta(2) and nothing else — alpha(3) first, beta(2) second
    assert got == [("alpha", 3), ("beta", 2)]


def test_contamination_report_flags_overlap(spark):
    probes = spark.createDataFrame(
        [(0, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (10, "lazy dogs avoid the quick brown fox always"),  # shares 3-grams
            (11, "completely unrelated text with nothing shared"),
            (12, "the quick brown fox jumps"),                    # exact dup of probe
        ],
        "doc_id long, text string",
    )
    import flink_cdc_multi_spark.operators.dedup as D

    got = {
        r["doc_id"]: (r["n_shared"], r["n_sh"])
        for r in D.contamination_report(corpus, probes, n=3).collect()
    }
    assert set(got) == {10, 12}
    assert got[12] == (3, 3)  # all 3 trigrams of the dup are probe trigrams
    assert got[10][0] == 2    # "the quick brown", "quick brown fox"


def test_repetition_stats_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 trigrams, 3 distinct (heavy repeat)
            (2, "a b c d e"),            # 3 trigrams, all distinct
            (3, "a b"),                  # short doc: 1 whole-text shingle
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_distinct"])
        for r in D.repetition_stats(df, n=3).collect()
    }
    assert got == {1: (7, 3), 2: (3, 3), 3: (1, 1)}


def test_neardup_clusters_transitive_closure(spark):
    # chain 1-2, 2-3 must collapse into ONE cluster (min id 1) even though
    # (1,3) is not a pair — similarity is not transitive, closure is the
    # point. 4-5 separate; 6 singleton.
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a_id long, b_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.neardup_clusters(ids, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_chunk_documents_windows_and_overlap(spark):
    # 10 tokens, chunk=4, overlap=2 → stride 2 → starts 0,2,4,6,8
    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, toks), (2, ""), (3, "a b")], "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in X.chunk_documents(df, chunk_tokens=4, overlap=2).collect()
    }
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t2 t3 t4 t5", 4)      # 2-token overlap
    assert got[(1, 4)] == ("t8 t9", 2)            # short tail chunk
    assert len([k for k in got if k[0] == 1]) == 5
    assert not any(k[0] == 2 for k in got)        # empty doc → no chunks
    assert got[(3, 0)] == ("a b", 2)              # short doc → one chunk


def test_text_commonness_exact_counts(spark, tmp_path):
    # corpus: "a a b" + "b c" -> tf: a=2, b=2, c=1
    # doc1 tokens (a,a,b): tf_sum = 2+2+2 = 6, n=3
    # doc2 tokens (b,c):   tf_sum = 2+1 = 3,  n=2
    import pandas as pd

    from flink_cdc_multi_spark.plans.extensions import ext_text_commonness

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a a b", "b c", "   "],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [5, 3, 3],
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")
    got = {
        r["doc_id"]: (r["tf_sum"], r["n_tokens"])
        for r in ext_text_commonness(spark, str(sf)).collect()
    }
    assert got == {1: (6, 3), 2: (3, 2)}  # whitespace-only doc absent


def test_labelprop_majority_beats_min_and_paths_agree(spark):
    """LPA contract on a hand graph (triangle 1-2-3 plus node 9 on 2,3),
    2 rounds: after round 1 node 2's neighbor labels are {2,1,2} — the
    majority label 2 must WIN over the smaller label 1 (tie-break is
    min only at EQUAL counts). Both the broadcast and shuffle label
    paths must agree."""
    from flink_cdc_multi_spark.plans.extensions import graph_labelprop_over

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 9), (3, 9)], "a_id long, b_id long"
    )
    want = {1: 1, 2: 2, 3: 2, 9: 1}
    for bcast in (False, True):
        got = {
            r["doc_id"]: r["lbl"]
            for r in graph_labelprop_over(
                pairs, iters=2, broadcast_labels=bcast
            ).collect()
        }
        assert got == want, (bcast, got)


def test_labelprop_mode_lane_matches_two_agg_on_ties(spark):
    """r18 wave 1: the broadcast lane's deterministic-mode fold must
    replay the two-agg max-count-then-min-label reduction EXACTLY on a
    tie-heavy multigraph, across partial-merge boundaries (the pair
    frame is spread over 8 partitions so mode's map buffers merge).
    Duplicate pair rows are deliberate — LPA over an LSH pair stream
    counts every edge occurrence, and equal-count label ties are where
    a wrong tie-break would diverge."""
    from flink_cdc_multi_spark.plans.extensions import graph_labelprop_over

    pairs = spark.createDataFrame(
        # node 10: neighbors 2,2,4,4 (two-way count tie -> min 2 after
        # round 1); node 20: 3-way tie 5/6/7; node 5..7 interlink
        [(10, 2), (10, 2), (10, 4), (10, 4),
         (20, 5), (20, 6), (20, 7),
         (5, 6), (6, 7), (5, 7), (2, 4)],
        "a_id long, b_id long",
    ).repartition(8)
    a = {
        r["doc_id"]: r["lbl"]
        for r in graph_labelprop_over(
            pairs, iters=3, broadcast_labels=True
        ).collect()
    }
    b = {
        r["doc_id"]: r["lbl"]
        for r in graph_labelprop_over(
            pairs, iters=3, broadcast_labels=False
        ).collect()
    }
    assert a == b


def test_sample_weighted_replica_and_size_bias(spark, tmp_path):
    """The selection must equal an independent Python replica of the
    h/w rank (same md5-hash60, same IEEE division), and the sample must
    be SIZE-BIASED: with 200 docs of weight 1001 and 200 of weight 11,
    the heavy class must take well over half the 100 slots."""
    import hashlib

    import pandas as pd

    from flink_cdc_multi_spark.plans.extensions import ext_sample_weighted

    n_chars = [1000] * 200 + [10] * 200 + [None]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(401)),
            "text": ["x"] * 401,
            "lang": ["en"] * 401,
            "source": ["s"] * 401,
            "n_chars": pd.array(n_chars, dtype="Int64"),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")
    rows = ext_sample_weighted(spark, str(sf)).collect()
    got = [(r["rnk"], r["doc_id"], r["h"], r["w"]) for r in rows]

    def h60(d):
        return int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16)

    ref = sorted(
        ((h60(d) / (w + 1), d, h60(d), w + 1)
         for d, w in zip(range(401), n_chars) if w is not None),
    )[:100]
    want = [(i + 1, d, h, w) for i, (_, d, h, w) in enumerate(ref)]
    assert got == want
    heavy = sum(1 for _, d, _, _ in got if d < 200)
    assert heavy > 75  # weight ratio ~91x -> heavy class dominates


def test_kmv_jaccard_exact_when_sets_fit_in_sketch(spark, tmp_path):
    """When both languages have ≤ k distinct tokens the KMV sketches ARE
    the sets, so the estimator must return the EXACT Jaccard: en =
    {a..j} (10), fr = {f..j, x..} (5 shared / 10 total) → J = 5/15;
    U = all 15 hashes, n_match = 5."""
    import pandas as pd

    from flink_cdc_multi_spark.plans.extensions import ext_sketch_kmv_jaccard

    en = " ".join(f"tok{i}" for i in range(10))
    fr = " ".join([f"tok{i}" for i in range(5, 10)]
                  + [f"mot{i}" for i in range(5)])
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [en, fr],
            "lang": ["en", "fr"],
            "source": ["s", "s"],
            "n_chars": [len(en), len(fr)],
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")
    rows = ext_sketch_kmv_jaccard(spark, str(sf)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["lang_a"], r["lang_b"]) == ("en", "fr")
    assert (r["k_u"], r["n_match"]) == (15, 5)  # exact J = 5/15


def test_labelprop_negative_ids(spark):
    """Negative node ids (real at the gate: hostile doc_ids pass the
    < 500 filter) flow through the -lbl struct-max trick and the
    oracle's max-count-then-min replay identically — this expected map
    was cross-verified against the DuckDB form once and is pinned here
    on the Spark side."""
    from flink_cdc_multi_spark.plans.extensions import graph_labelprop_over

    pairs = spark.createDataFrame(
        [(-5, -3), (-5, -1), (-3, -1), (-3, 7), (-1, 7)],
        "a_id long, b_id long",
    )
    got = {
        r["doc_id"]: r["lbl"]
        for r in graph_labelprop_over(pairs, iters=2).collect()
    }
    assert got == {-5: -5, -3: -3, -1: -3, 7: -5}


def test_hll_merge_equals_direct_sketch(spark):
    """Mergeability is EXACT: per-(lang, source) shard sketches merged by
    max-of-maxes must equal the direct one-level lang sketch bit-for-bit
    (same registers either way) — the property a sharded 100 TB rollup
    relies on."""
    from flink_cdc_multi_spark.plans.extensions import (
        ext_sketch_hll,
        ext_sketch_hll_merge,
    )

    sf = "/root/testdata/sf0.001"
    direct = {
        r["lang"]: (r["v_filled"], r["harmonic_scaled"], r["est_distinct"])
        for r in ext_sketch_hll(spark, sf).collect()
    }
    merged = {
        r["lang"]: (r["v_filled"], r["harmonic_scaled"], r["est_distinct"])
        for r in ext_sketch_hll_merge(spark, sf).collect()
    }
    assert merged == direct
    # and the shard count is a real multi-shard fold, not a degenerate 1
    n_shards = {
        r["lang"]: r["n_shards"]
        for r in ext_sketch_hll_merge(spark, sf).collect()
    }
    assert max(n_shards.values()) >= 2


def test_text_tfidf_rank_contract(spark, tmp_path):
    # corpus of 3 docs: "x" appears in all (df=3), "y" in two (df=2),
    # "z" only in doc1 (df=1).
    # doc1 tokens (x x y z): tf/df -> x 2/3, y 1/2, z 1/1
    #   rank order: z (1.0) > x (0.667) > y (0.5)
    # doc2 (x y y):          y 2/2=1.0 > x 1/3
    # doc3 (x):              x only
    # tie-break: doc4 (a b) both tf=1 df=1 -> token ASC: a before b
    import pandas as pd

    from flink_cdc_multi_spark.plans.extensions import ext_text_tfidf

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["x x y z", "x y y", "x", "a b", "  "],
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [7, 5, 1, 3, 2],
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")
    rows = ext_text_tfidf(spark, str(sf)).collect()
    got = {(r["doc_id"], r["rnk"]): (r["token"], r["tf"], r["df"]) for r in rows}
    assert got[(1, 1)] == ("z", 1, 1)
    assert got[(1, 2)] == ("x", 2, 3)
    assert got[(1, 3)] == ("y", 1, 2)
    assert got[(2, 1)] == ("y", 2, 2)
    assert got[(2, 2)] == ("x", 1, 3)
    assert got[(3, 1)] == ("x", 1, 3)
    assert got[(4, 1)] == ("a", 1, 1)  # equal scores: token ASC
    assert got[(4, 2)] == ("b", 1, 1)
    assert not any(d == 5 for d, _ in got)  # whitespace-only doc absent
    # every doc emits at most TOP_K rows and ranks are 1..n contiguous
    from flink_cdc_multi_spark.plans.extensions import _TFIDF_TOP_K

    for d in (1, 2, 3, 4):
        rnks = sorted(r for (dd, r) in got if dd == d)
        assert rnks == list(range(1, len(rnks) + 1))
        assert len(rnks) <= _TFIDF_TOP_K


def test_mixture_sample_hits_target_shares(spark, tmp_path):
    # 4 sources x uniform 250 docs, target shares 2/4/6/8 percent
    # (p = idx%4*2+2): n_out = min(250*100//p) = floor(25000/8) = 3125,
    # thresholds = n_out*p*1e6 // (100*250). src3 (p=8) binds: threshold
    # = 1e6 -> keeps ALL its docs; others keep ~p/8 of theirs. The kept
    # sets must be deterministic md5 slices (re-run identical).
    import pandas as pd

    from flink_cdc_multi_spark.plans.extensions import ext_mixture_sample

    pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "text": ["x"] * 1000,
            "lang": ["en"] * 1000,
            "source": [f"src{i % 4}" for i in range(1000)],
            "n_chars": [1] * 1000,
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")
    got = ext_mixture_sample(spark, str(sf)).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    # binding source keeps everything; md5-rate sources land near target
    assert len(by_src["src3"]) == 250
    assert abs(len(by_src["src0"]) - 250 * 2 / 8) <= 15
    assert abs(len(by_src["src1"]) - 250 * 4 / 8) <= 20
    assert abs(len(by_src["src2"]) - 250 * 6 / 8) <= 20
    # deterministic: identical on re-execution
    again = {
        (r["doc_id"], r["source"]) for r in ext_mixture_sample(spark, str(sf)).collect()
    }
    assert again == {(r["doc_id"], r["source"]) for r in got}


def test_pack_offsets_prefix_sum_and_bucket_invariance(spark):
    # docs: 3, 5, 2 tokens in id order -> starts 0, 3, 8; block=4:
    # doc 1 in seq 0; doc 2 spans seqs 0-1 (tokens 3..7); doc 3 spans 2-2
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g h"), (3, "i j"), (4, "   ")],
        "doc_id long, text string",
    )
    expect = {
        1: (3, 0, 0, 0),
        2: (5, 3, 0, 1),
        3: (2, 8, 2, 2),
    }
    for n_buckets in (1, 2, 7):  # result must be bucket-count invariant
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["start_offset"], r["start_seq"], r["end_seq"]
            )
            for r in X.pack_offsets(
                df, block_tokens=4, n_buckets=n_buckets
            ).collect()
        }
        assert got == expect, f"n_buckets={n_buckets}"
    # whitespace-only doc contributes nothing (id 4 absent)


def test_pack_offsets_matches_serial_reference(spark):
    # 200 docs with varied token counts: distributed prefix sum must equal
    # the serial cumulative sum
    rows = [(i, " ".join("t" * 1 for _ in range(1 + i * 7 % 13))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["start_offset"], r["start_seq"], r["end_seq"])
        for r in X.pack_offsets(df, block_tokens=32).collect()
    }
    acc = 0
    for i in range(200):
        n = 1 + i * 7 % 13
        assert got[i] == (acc, acc // 32, (acc + n - 1) // 32), i
        acc += n


def test_resize_plan_targets(spark):
    rows = [
        (1, bytearray(M.make_tiny_png(640, 480))),   # downscale 2x
        (2, bytearray(M.make_tiny_png(100, 50))),    # already small: no upscale
        (3, bytearray(b"not an image")),             # unknown: null targets
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {
        r["doc_id"]: (r["target_width"], r["target_height"])
        for r in M.resize_plan(df, max_dim=320).collect()
    }
    assert got[1] == (320, 240)
    assert got[2] == (100, 50)
    assert got[3] == (None, None)


def test_resize_plan_zero_dim_header_no_crash(spark):
    # a crafted 0x0 header must not ANSI-crash the job (try_divide gives
    # NULL scale; least() skips the NULL -> scale 1.0) — the degenerate
    # image passes through at its declared 0x0, consistent with
    # never-upscale
    df = spark.createDataFrame(
        [(1, bytearray(M.make_tiny_png(0, 0)))], "doc_id long, media binary"
    )
    r = M.resize_plan(df, max_dim=320).collect()[0]
    assert (r["target_width"], r["target_height"]) == (0, 0)


def test_neardup_clusters_chain_path_doubling(spark):
    # adversarial worst case for plain min-label propagation: a 1000-node
    # chain (diameter 999 would need ~999 propagate-only rounds). Pointer
    # doubling must converge in ~log2(n) rounds — max_iter=16 both proves
    # the doubling step works AND pins the complexity class (plain
    # propagation would raise here).
    n = 1000
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = (
        spark.range(n - 1)
        .select(F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id"))
    )
    out = D.neardup_clusters(ids, pairs, max_iter=16)
    got = out.groupBy("cluster_id").count().collect()
    out.unpersist()
    assert len(got) == 1
    assert (got[0]["cluster_id"], got[0]["count"]) == (0, n)


def test_neardup_clusters_nonconvergence_raises(spark):
    # diameter-3 chain with max_iter=1 must raise, never return wrong labels
    ids = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a_id long, b_id long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        D.neardup_clusters(ids, pairs, max_iter=1)


def test_exact_dedup_null_id_contract(spark):
    # NULL-id rows are never representatives; an all-NULL-id group drops
    df = spark.createDataFrame(
        [(None, "dup"), (None, "dup"), (5, "dup2"), (None, "dup2"), (7, "solo")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["text"])
        for r in D.exact_dedup(df, ["text"], "doc_id").collect()
    )
    assert got == [(5, "dup2"), (7, "solo")]


def test_text_operators_fuzz_vs_python_reference(spark):
    """Seeded fuzz: shingle_rows / repetition_stats / chunk_documents over
    200 adversarial strings (whitespace runs, tabs/newlines, unicode,
    empties, single tokens) must match independent pure-Python references
    — one Spark job per operator, not per example."""
    import random
    import re

    rng = random.Random(1234)
    words = ["a", "bb", "ccc", "Ωmega", "x1", "longtoken", "δ", "YZ"]
    texts = []
    for i in range(200):
        n = rng.randint(0, 12)
        toks = [rng.choice(words) for _ in range(n)]
        seps = [rng.choice([" ", "  ", "\t", "\n", " \t "]) for _ in range(max(n - 1, 0))]
        body = "".join(t + s for t, s in zip(toks, seps + [""]))
        pad = rng.choice(["", " ", "\t\n", "  "])
        texts.append(pad + body + rng.choice(["", " ", "\n"]))
    texts[0], texts[1], texts[2] = "", "   ", "solo"
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def py_tokens(s):
        # engine semantics: Spark/DuckDB trim() strips SPACES only (not
        # tabs/newlines), and split keeps leading/trailing empty fields
        return re.split(r"\s+", s.strip(" "))

    def py_shingles(s, n=3):
        t = py_tokens(s)
        if len(t) < n:
            return [" ".join(t)]
        return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]

    # shingle_rows: exact multiset per doc
    got = {}
    for r in D.shingle_rows(df, "doc_id", "text", 3).collect():
        got.setdefault(r["id"], []).append(r["shingle"])
    for i, s in enumerate(texts):
        assert sorted(got.get(i, [])) == sorted(py_shingles(s)), (i, s)

    # repetition_stats: total vs distinct
    rep = {
        r["doc_id"]: (r["n_shingles"], r["n_distinct"])
        for r in D.repetition_stats(df, n=3).collect()
    }
    for i, s in enumerate(texts):
        sh = py_shingles(s)
        assert rep[i] == (len(sh), len(set(sh))), (i, s)

    # chunk_documents: windows reconstruct the token stream
    chunks = {}
    for r in X.chunk_documents(df, chunk_tokens=5, overlap=2).collect():
        chunks[(r["doc_id"], r["chunk_id"])] = (r["chunk_text"], r["n_tokens"])
    for i, s in enumerate(texts):
        t = py_tokens(s)
        if s.strip(" ") == "":  # engine trim: spaces only
            assert not any(k[0] == i for k in chunks), (i, s)
            continue
        stride = 3
        exp = {
            (i, c): (" ".join(t[st : st + 5]), min(5, len(t) - st))
            for c, st in enumerate(range(0, len(t), stride))
        }
        mine = {k: v for k, v in chunks.items() if k[0] == i}
        assert mine == exp, (i, s)


def test_pack_offsets_negative_order_domain(spark):
    # all-negative order keys: greatest(mx+1, 1) keeps the bucket map
    # finite and monotone instead of flooring +-inf
    df = spark.createDataFrame(
        [(-5, "a b"), (-3, "c d e"), (-1, "f")], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["start_offset"])
        for r in X.pack_offsets(df, block_tokens=4).collect()
    )
    assert got == [(-5, 0), (-3, 2), (-1, 5)]


def test_redact_fuzz_vs_python_reference(spark):
    """Seeded fuzz: operators.text.redact over adversarial strings must
    match a pure-Python sequential re reference (same pattern order,
    count-before-replace semantics). One Spark job for all examples."""
    import random
    import re

    rng = random.Random(77)
    frags = [
        "call 555-0199", "x@y.com", "a.b-c@mail.example.co.uk", "10.0.0.1",
        "999.999.999.999", "v2", "no pii here", "{\"k\": 42}", "",
        "a@b", "@", "1.2.3", "user+tag@host.io,10.1.2.3", "π≈3.14159",
        "e@ε.gr", "..@..", "0", "00x00", "12 34 56",
    ]
    texts = [" ".join(rng.choice(frags) for _ in range(rng.randint(0, 5))) for _ in range(150)]
    texts += frags  # each fragment alone too
    df = spark.createDataFrame(list(enumerate(texts)), "id long, s string")
    red, n = X.redact(F.col("s"))
    got = {
        r["id"]: (r["red"], r["n"])
        for r in df.select("id", red.alias("red"), n.alias("n")).collect()
    }

    def py_redact(s):
        total = 0
        for _name, pat, repl in X.REDACT_PATTERNS:
            total += len(re.findall(pat, s))
            s = re.sub(pat, repl, s)
        return s, total

    for i, s in enumerate(texts):
        assert got[i] == py_redact(s), (i, s)


def test_redact_counts_most_specific_category_once(spark):
    # digits inside an email must be consumed by the email pass, not
    # recounted by the digit-run pass
    df = spark.createDataFrame([(0, "mail a1b2@dom42.net now 7")], "id long, s string")
    red, n = X.redact(F.col("s"))
    row = df.select(red.alias("r"), n.alias("n")).collect()[0]
    assert row["r"] == "mail <EMAIL> now <NUM>"
    assert row["n"] == 2


def test_events_funnel_requires_stage_order(spark, tmp_path):
    """A click BEFORE the user's first view must not advance the funnel;
    at-or-after (inclusive) timestamps do."""
    import datetime as dt

    from flink_cdc_multi_spark.plans.extensions import ext_events_funnel

    t0 = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: full ordered journey
        (1, ts(0), 1, "signup", 0.0, "{}"),
        (2, ts(1), 1, "view", 0.0, "{}"),
        (3, ts(2), 1, "click", 0.0, "{}"),
        (4, ts(3), 1, "purchase", 0.0, "{}"),
        # user 2: click precedes the only view -> stops at view
        (5, ts(0), 2, "signup", 0.0, "{}"),
        (6, ts(1), 2, "click", 0.0, "{}"),
        (7, ts(2), 2, "view", 0.0, "{}"),
        # user 3: no signup -> reaches nothing
        (8, ts(0), 3, "view", 0.0, "{}"),
        (9, ts(1), 3, "click", 0.0, "{}"),
        # user 4: simultaneous signup+view (inclusive >=) then purchase
        # without click -> stops after view
        (10, ts(0), 4, "signup", 0.0, "{}"),
        (11, ts(0), 4, "view", 0.0, "{}"),
        (12, ts(5), 4, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r["stage_name"]: r["n_users"] for r in ext_events_funnel(spark, str(tmp_path)).collect()}
    assert got == {"signup": 3, "view": 3, "click": 1, "purchase": 1}


def test_wav_codec_roundtrip_and_rejections():
    """Real RIFF walk: roundtrip with LIST chunk + word alignment; reject
    stereo, non-PCM, truncated, and non-RIFF inputs."""
    import struct

    import numpy as np

    samples = [0, 1, -1, 32767, -32768, 1234]
    blob = M.make_wav_pcm16(44100, samples, extra_chunk=True)
    sr, arr = M.parse_wav_pcm16(blob)
    assert sr == 44100 and list(arr) == samples
    assert M.wav_pcm16_stats(blob) == (
        44100, 6, sum(abs(s) for s in samples), 32768
    )
    # odd-length LIST chunk: data must still be found AFTER the pad byte
    assert b"LIST" in blob

    assert M.parse_wav_pcm16(b"") is None
    assert M.parse_wav_pcm16(b"RIFF\x00\x00\x00\x00WAVE") is None  # no chunks
    assert M.parse_wav_pcm16(b"OggS" + blob[4:]) is None  # wrong container

    # stereo fmt -> rejected
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    stereo = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
              + b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", 0))
    assert M.parse_wav_pcm16(stereo) is None

    # IEEE-float fmt -> rejected
    ffmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    floaty = (b"RIFF" + struct.pack("<I", 4 + 8 + len(ffmt)) + b"WAVE"
              + b"fmt " + struct.pack("<I", len(ffmt)) + ffmt)
    assert M.parse_wav_pcm16(floaty) is None

    # truncated data chunk -> rejected (declared length exceeds bytes)
    trunc = blob[:-4]
    assert M.parse_wav_pcm16(trunc) is None

    # empty sample stream is valid
    assert M.wav_pcm16_stats(M.make_wav_pcm16(8000, np.array([], dtype=np.int16))) == (
        8000, 0, 0, 0
    )


def test_jpeg_dc_profile_roundtrip_fuzz():
    """Real baseline-JPEG entropy roundtrip over 200 seeded images: the
    decoder's Huffman/EXTEND/DC-prediction chain must reproduce the exact
    closed-form pixel sums, including clipped DCs and stuffed 0xFF bytes
    in the scan (padding-with-ones makes those frequent)."""
    import random

    rng = random.Random(31337)
    for _ in range(200):
        bw, bh = rng.randint(1, 4), rng.randint(1, 4)
        dcs = [rng.randint(-128, 127) for _ in range(bw * bh)]
        blob = M.make_jpeg_gray_dc(bw * 8, bh * 8, dcs)
        exp = (sum(64 * max(0, min(255, d + 128)) for d in dcs), bw * 8 * bh * 8)
        assert M.jpeg_gray_luma_sum(blob) == exp, dcs
        assert M.parse_image_header(blob) == ("jpeg", bw * 8, bh * 8)


def test_jpeg_ac_profile_roundtrip_fuzz():
    """Full baseline AC decode (r11): random sparse coefficients across
    all 63 zigzag positions (exercising run lengths, ZRL, EOB-vs-last-
    coefficient, sign EXTEND) must reproduce the pinned fixed-point
    integer IDCT exactly — the reference pixels are recomputed here
    straight from the contract definition, independently of the
    decoder's loop."""
    import random

    import numpy as np

    rng = random.Random(4242)
    B = M._idct_basis()
    q_nat = [8] * 64

    def ref_block(coeff_nat):
        fq = (
            np.array(coeff_nat, dtype=np.int64).reshape(8, 8)
            * np.array(q_nat, dtype=np.int64).reshape(8, 8)
        )
        acc = B.T @ fq @ B
        px = ((acc + (1 << 25)) >> 26) + 128
        return int(np.clip(px, 0, 255).sum())

    for _ in range(100):
        bw, bh = rng.randint(1, 3), rng.randint(1, 3)
        blocks, exp = [], 0
        for _b in range(bw * bh):
            c = [0] * 64
            c[0] = rng.randint(-100, 100)
            for _k in range(rng.randint(0, 8)):
                c[M._ZIGZAG[rng.randint(1, 63)]] = rng.randint(-40, 40)
            blocks.append(c)
            exp += ref_block(c)
        blob = M.make_jpeg_gray(bw * 8, bh * 8, blocks)
        assert M.jpeg_gray_luma_sum(blob) == (exp, bw * 8 * bh * 8)
        # flat blocks (all AC zero) still take the EXACT dc+128 path —
        # the two profiles coexist per block within one image
        flat = [[c[0]] + [0] * 63 for c in blocks]
        fexp = (
            sum(64 * max(0, min(255, c[0] + 128)) for c in blocks),
            bw * 8 * bh * 8,
        )
        assert M.jpeg_gray_luma_sum(M.make_jpeg_gray(bw * 8, bh * 8, flat)) == fexp


def test_jpeg_decoder_rejects_out_of_profile():
    blob = M.make_jpeg_gray_dc(16, 8, [5, -5])
    assert M.jpeg_gray_luma_sum(blob) is not None
    # truncated entropy stream
    assert M.jpeg_gray_luma_sum(blob[:-10] + b"\xff\xd9") is None
    # not a JPEG at all
    assert M.jpeg_gray_luma_sum(b"\x89PNG\r\n\x1a\n") is None
    # progressive frame marker (SOF2) instead of baseline: rejected
    prog = blob.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert M.jpeg_gray_luma_sum(prog) is None
    # multi-component SOF: rejected
    bad = bytearray(blob)
    i = blob.index(b"\xff\xc0")
    bad[i + 9] = 3  # ncomp byte inside SOF payload
    assert M.jpeg_gray_luma_sum(bytes(bad)) is None


def test_jpeg_decoders_skip_fill_bytes():
    """ITU T.81 §B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker id — a spec-valid stream with padding must decode to the SAME
    pixels as the unpadded stream, in BOTH the gray and color walks
    (ADVICE r13: the walk previously read a fill byte as the marker id
    and pulled a garbage segment length)."""
    import numpy as np

    gray = M.make_jpeg_gray_dc(16, 8, [5, -5])
    # insert two fill bytes right after SOI, before the first segment
    gray_padded = gray[:2] + b"\xff\xff" + gray[2:]
    assert M.jpeg_gray_luma_sum(gray_padded) == M.jpeg_gray_luma_sum(gray)

    color = M.make_jpeg_color_dc(16, 8, [10, -20], [5, -8], [-3, 7])
    color_padded = color[:2] + b"\xff" + color[2:]
    px = M.jpeg_color_decode_pixels(color)
    px_padded = M.jpeg_color_decode_pixels(color_padded)
    assert px is not None and px_padded is not None
    assert np.array_equal(px, px_padded)
    # fill bytes before a LATER marker (between two header segments)
    i = color.index(b"\xff\xc4")
    mid_padded = color[:i] + b"\xff\xff\xff" + color[i:]
    px_mid = M.jpeg_color_decode_pixels(mid_padded)
    assert px_mid is not None and np.array_equal(px, px_mid)


def test_train_pq_int64_overflow_guard(spark):
    """The blocked exact-int64 coarse-assign fallback must REFUSE input
    whose squared-distance sum could wrap int64 (ADVICE r13: numpy wraps
    silently — the exact regime the fallback exists to make safe).
    Components of ~2e3 quantize to ~2e9; 4·dim·mx² ≈ 4e19 > 2^63."""
    import numpy as np
    import pytest as _pytest

    big = spark.createDataFrame(
        [(i, [2.0e3 + i, -2.0e3, 1.5e3, -1.1e3]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="overflow"):
        S.train_pq_codewords(big, big.limit(2), m=2, n_codewords=2)
    # mid-range magnitudes (past the 2^53 float guard, inside int64
    # exactness) still train through the blocked fallback
    mid = spark.createDataFrame(
        [(i, [50.0 + i, -50.0, 30.0, -11.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    mx = 51.0 * S.LSH_QUANT
    assert 4.0 * 4 * mx * mx >= 2.0**53  # routes to the int64 fallback
    tw = S.train_pq_codewords(mid, mid.limit(2), m=2, n_codewords=2)
    assert tw.shape == (2, 4) and tw.dtype == np.int64


def test_lzw_roundtrip_fuzz():
    """Raw GIF-variant LZW: roundtrip over random and highly-repetitive
    streams (repetition grows the dictionary fast — exercises variable
    code widths, the cScSc case, and the 12-bit reset)."""
    import random

    rng = random.Random(5)
    for trial in range(40):
        n = rng.choice([1, 10, 500, 5000, 20000])
        if rng.random() < 0.5:
            data = [rng.randint(0, 255) for _ in range(n)]
        else:
            pat = [rng.randint(0, 3) for _ in range(rng.randint(1, 5))]
            data = (pat * (n // len(pat) + 1))[:n]
        # decode returns bytes since r11 (hot-loop form); compare as ints
        assert list(M._lzw_decode_gif(M._lzw_encode_gif(data, 8), 8)) == data, trial


def test_gif_bmp_pixel_decode_roundtrip():
    blob = M.make_gif_gray(16, 8, lambda x, y: (x * 16 + y * 3) % 256)
    exp = sum(1000 * ((x * 16 + y * 3) % 256) for y in range(8) for x in range(16))
    assert M.gif_luma_sum(blob) == (exp, 128)
    assert M.parse_image_header(blob) == ("gif", 16, 8)

    b2 = M.make_bmp_rgb(13, 5, lambda x, y: ((x * 7) % 256, (y * 11) % 256, (x + y) % 256))
    wr, wg, wb = 299, 587, 114
    exp2 = sum(
        wr * ((x * 7) % 256) + wg * ((y * 11) % 256) + wb * ((x + y) % 256)
        for y in range(5) for x in range(13)
    )
    assert M.bmp_luma_sum(b2) == (exp2, 65)  # odd width: row padding walked
    assert M.parse_image_header(b2) == ("bmp", 13, 5)

    # cross-format and malformed rejections
    assert M.gif_luma_sum(b2) is None and M.bmp_luma_sum(blob) is None
    assert M.gif_luma_sum(b"GIF89a") is None and M.bmp_luma_sum(b"BMxx") is None
    # interlaced image descriptor flag -> out of profile (descriptor sits
    # after the 13-byte header + 768-byte palette; .index would find a
    # 0x2C PALETTE byte first)
    il = bytearray(blob)
    idx = 13 + 768
    assert il[idx] == 0x2C
    il[idx + 9] |= 0x40
    assert M.gif_luma_sum(bytes(il)) is None


def test_json_integer_guard_anchors_cross_engine(spark):
    """\\A..\\z anchors must agree between Spark (Java regex) and DuckDB
    (RE2) on the trailing-newline class where ^$ DIVERGES (Java's $
    matches before a final newline, RE2's does not)."""
    import duckdb

    cases = ["7", "7\n", "-42", "3.5", " 7", "7 ", "", "+7", "1e3"]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {
        r["s"]: r["m"]
        for r in df.select(
            "s", F.col("s").rlike(r"\A-?[0-9]+\z").alias("m")
        ).collect()
    }
    con = duckdb.connect()
    for s in cases:
        d = con.execute(
            "SELECT regexp_matches(?, '\\A-?[0-9]+\\z')", [s]
        ).fetchone()[0]
        assert got[s] == d, (repr(s), got[s], d)
    assert got["7\n"] is False  # the class ^$ got wrong


def test_exact_dedup_order_by_prefers_curated_source(spark):
    """The priority pick that ext_dedup_priority relies on, exercised on
    actual duplicate groups (the gate-SF fixture has none): lower source
    index wins; doc_id breaks ties; unparseable sources rank last."""
    rows = [
        (1, "same text", "src9"),
        (2, "same text", "src2"),   # winner: lowest source index
        (3, "same text", "weird"),  # unparseable -> priority 999
        (4, "other", "src5"),
        (5, "same text", "src2"),   # same priority as 2 -> doc_id tie-break
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    prio = F.coalesce(
        F.regexp_extract("source", r"(\d+)$", 1).try_cast("long"), F.lit(999)
    )
    got = sorted(
        (r["doc_id"], r["source"])
        for r in D.exact_dedup(
            df, ["text"], "doc_id",
            order_by=F.struct(prio.alias("p"), F.col("doc_id")),
        ).collect()
    )
    assert got == [(2, "src2"), (4, "src5")]


def test_profile_table_approx_close_to_exact(spark):
    """approx_count_distinct must agree with the exact profile on row and
    null counts exactly, and on distinct counts within HLL tolerance."""
    from flink_cdc_multi_spark.plans.extensions import profile_table
    from flink_cdc_multi_spark.plans.queries import load_table

    t = load_table(spark, "/root/testdata/sf0.001", "orders")
    exact = {r["col_name"]: r for r in profile_table(t, approx=False).collect()}
    approx = {r["col_name"]: r for r in profile_table(t, approx=True).collect()}
    assert set(exact) == set(approx)
    for c in exact:
        assert approx[c]["n_rows"] == exact[c]["n_rows"]
        assert approx[c]["n_null"] == exact[c]["n_null"]
        nd_e, nd_a = exact[c]["n_distinct"], approx[c]["n_distinct"]
        assert abs(nd_a - nd_e) <= max(2, 0.1 * nd_e), (c, nd_e, nd_a)


def test_resize_kernels_vs_python_reference():
    """resize_luma_sums (numpy fancy-indexing kernels) vs an INDEPENDENT
    scalar-loop reference implementing the same integer contracts: floor
    NN indices (t*src)//dst, fixed-point align-centers bilinear with edge
    clamp. Sweeps rectangular/square, downscale/identity, and every seed
    class the fixture uses."""
    from flink_cdc_multi_spark.operators import multimodal as M

    def luma(s, x, y):
        return (
            299 * ((s + x) % 256) + 587 * ((s + y) % 256) + 114 * ((s + x + y) % 256)
        )

    def ref(w, h, s, max_dim):
        m = max(w, h)
        if m <= max_dim:
            tw, th = w, h
        else:
            tw = max(1, (w * max_dim) // m)
            th = max(1, (h * max_dim) // m)
        nn = sum(
            luma(s, (tx * w) // tw, (ty * h) // th)
            for tx in range(tw)
            for ty in range(th)
        )
        bil = 0
        for tx in range(tw):
            numx = (2 * tx + 1) * w - tw
            sx0, fx = numx // (2 * tw), numx % (2 * tw)
            sx1 = min(sx0 + 1, w - 1)
            for ty in range(th):
                numy = (2 * ty + 1) * h - th
                sy0, fy = numy // (2 * th), numy % (2 * th)
                sy1 = min(sy0 + 1, h - 1)
                bil += (
                    (2 * tw - fx) * (2 * th - fy) * luma(s, sx0, sy0)
                    + fx * (2 * th - fy) * luma(s, sx1, sy0)
                    + (2 * tw - fx) * fy * luma(s, sx0, sy1)
                    + fx * fy * luma(s, sx1, sy1)
                )
        return w, h, tw, th, nn, bil, 4 * tw * th

    for w, h, s, md in [
        (20, 12, 37, 8), (4, 4, 0, 8), (27, 19, 255, 8), (9, 8, 128, 8),
        (16, 5, 7, 8), (5, 16, 7, 8), (1, 30, 3, 8), (30, 1, 3, 8),
        (12, 12, 99, 4), (25, 25, 200, 1), (6, 7, 50, 64),
    ]:
        got = M.resize_luma_sums(M.make_png_rgb(w, h, s), md)
        assert got == ref(w, h, s, md), (w, h, s, md)


def test_resize_identity_and_rejections():
    """No-upscale contract: small images pass through with bil_num =
    bil_den x full luma sum; out-of-profile blobs -> None (never fake)."""
    from flink_cdc_multi_spark.operators import multimodal as M

    blob = M.make_png_rgb(5, 4, 250)
    w, h, tw, th, nn, bnum, bden = M.resize_luma_sums(blob, 8)
    assert (tw, th) == (5, 4)
    full, npx = M.png_luma_sum(blob)
    assert nn == full and bnum == bden * full and bden == 4 * 5 * 4
    assert M.resize_luma_sums(M.make_tiny_png(5, 5), 8) is None  # no IDAT
    assert M.resize_luma_sums(b"junk", 8) is None
    assert M.resize_luma_sums(blob[:40], 8) is None  # truncated


def test_resize_image_features_nulls_out_of_profile(spark):
    """The operator emits null feature columns (not a fake, not a crash)
    for undecodable blobs, real integers for PNGs."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "media": [M.make_png_rgb(20, 12, 37), b"not an image"],
        }
    )
    rows = {
        r["doc_id"]: r
        for r in M.resize_image_features(spark.createDataFrame(pdf), 8).collect()
    }
    exp = M.resize_luma_sums(M.make_png_rgb(20, 12, 37), 8)
    assert (
        rows[1]["width"], rows[1]["height"], rows[1]["target_width"],
        rows[1]["target_height"], rows[1]["nn_luma_sum"],
        rows[1]["bil_luma_num"], rows[1]["bil_den"],
    ) == exp
    assert rows[2]["nn_luma_sum"] is None and rows[2]["width"] is None


def test_gif_frame_sampling_vs_reference():
    """sample_gif_frames vs the closed-form frame clock + pixel sum, over
    frame counts 1-6 and strides landing inside/outside frame bounds."""
    from flink_cdc_multi_spark.operators import multimodal as M

    for w, h, nf, dcs, s, every in [
        (6, 4, 3, 5, 37, 80), (3, 3, 1, 10, 0, 30), (10, 7, 6, 4, 255, 25),
        (5, 5, 2, 5, 128, 100), (4, 6, 5, 2, 9, 7),
    ]:
        px = lambda f, x, y: (s + 11 * f + 3 * x + 5 * y) % 256  # noqa: E731
        blob = M.make_gif_gray_animated(w, h, nf, dcs, px)
        got = M.sample_gif_frames(blob, every)
        total = nf * dcs * 10
        exp = []
        for ts in range(0, total, every):
            fi = min(ts // (dcs * 10), nf - 1)
            luma = 1000 * sum(px(fi, x, y) for x in range(w) for y in range(h))
            exp.append((ts, fi, luma, w * h))
        assert got == exp, (w, h, nf, dcs, s, every)


def test_gif_frame_sampling_selective_decode(monkeypatch):
    """Frames no sample lands in must NEVER pay LZW: a 200 ms stride over
    10 x 50 ms frames decodes 3 frames (0, 4, 8), not 10."""
    from flink_cdc_multi_spark.operators import multimodal as M

    blob = M.make_gif_gray_animated(4, 4, 10, 5, lambda f, x, y: (f + x + y) % 256)
    calls = []
    real = M._gif_decode_span

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(M, "_gif_decode_span", counting)
    rows = M.sample_gif_frames(blob, 200)
    assert [r[:2] for r in rows] == [(0, 0), (200, 4), (400, 8)]
    assert len(calls) == 3


def test_gif_frame_sampling_rejections():
    """Out-of-profile animated GIFs -> None, never fake rows: zero frame
    clock, transparency, truncation, non-GIF input; and the legacy
    single-image generator (no GCE at all) has no frame clock."""
    from flink_cdc_multi_spark.operators import multimodal as M

    px = lambda f, x, y: (x + y) % 256  # noqa: E731
    assert M.sample_gif_frames(M.make_gif_gray_animated(4, 4, 2, 0, px), 80) is None
    blob = bytearray(M.make_gif_gray_animated(4, 4, 2, 5, px))
    # set the GCE transparency flag (packed byte right after 21 f9 04)
    i = bytes(blob).index(b"\x21\xf9\x04") + 3
    blob[i] |= 0x01
    assert M.sample_gif_frames(bytes(blob), 80) is None
    assert M.sample_gif_frames(b"GIF89a", 80) is None
    assert M.sample_gif_frames(b"junk", 80) is None
    assert (
        M.sample_gif_frames(M.make_gif_gray(4, 4, lambda x, y: 0), 80) is None
    )


def test_gif_frame_sampler_fuzz_never_raises():
    """Corruption hardening for the animated-GIF walker + sampler:
    bit-flips and truncations of VALID animations must return None or a
    well-formed row list, never raise (same property the PNG/JPEG/WAV
    decoders are pinned to)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_cdc_multi_spark.operators import multimodal as M

    base = M.make_gif_gray_animated(
        7, 5, 4, 5, lambda f, x, y: (3 * f + x + 2 * y) % 256
    )

    @settings(max_examples=80, deadline=None)
    @given(
        st.integers(min_value=0, max_value=len(base) - 1),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=1, max_value=len(base)),
    )
    def corrupted(pos, val, cut):
        mut = bytearray(base)
        mut[pos] = val
        for blob in (bytes(mut), base[:cut], bytes(mut)[:cut]):
            out = M.sample_gif_frames(blob, 80)
            assert out is None or (
                isinstance(out, list)
                and all(len(r) == 4 and r[3] == 35 for r in out)
            )

    corrupted()


def test_pq_topk_recall_and_exact_contract(spark):
    """PQ ADC: (a) a query that IS a codebook vector must rank itself
    first with distance 0 (its codes reconstruct it exactly, every other
    vector's ADC distance is positive w.h.p.); (b) near-duplicate queries
    recover their exact top-1 for most queries (approximate-recall
    tolerance, the ivf/lsh pattern); (c) the emitted dist is the exact
    integer ADC sum recomputed in numpy."""
    import numpy as np

    rng = np.random.RandomState(13)
    vecs = rng.standard_normal((200, 16)).astype(float)
    corpus = spark.createDataFrame(
        [(i + 100, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    codebook = corpus.filter("vec_id < 116")  # first 16 corpus vectors
    # (a) codebook vectors as queries: self is an exact PQ match
    self_q = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    got = S.pq_topk_fixed(corpus, self_q, codebook, m=4, k=1).collect()
    assert {(r["qid"], r["nid"], r["dist"]) for r in got} == {
        (i, i + 100, 0) for i in range(4)
    }
    # (b) perturbed queries: top-1 recall vs brute force
    qvecs = vecs[:10] + rng.standard_normal((10, 16)) * 0.01
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qvecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        r["qid"]: r["nid"]
        for r in S.brute_force_topk(corpus, queries, k=1).collect()
    }
    rows = S.pq_topk_fixed(corpus, queries, codebook, m=4, k=1).collect()
    approx = {r["qid"]: r["nid"] for r in rows}
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 6  # 16-codeword PQ is coarse; near-dups mostly survive
    # (c) dist is the exact integer ADC sum
    q6 = lambda a: np.floor(np.asarray(a) * 1_000_000).astype(np.int64)  # noqa: E731
    C = q6(vecs[:16]).reshape(16, 4, 4)
    r0 = rows[0]
    qv = q6(qvecs[int(r0["qid"])]).reshape(4, 4)
    nv = q6(vecs[int(r0["nid"]) - 100]).reshape(4, 4)
    dist = 0
    for j in range(4):
        codes = ((C[:, j, :] - nv[j]) ** 2).sum(1).argmin()
        dist += int(((qv[j] - C[codes, j]) ** 2).sum())
    assert r0["dist"] == dist


def test_media_operators_survive_null_blobs(spark):
    """One NULL binary row must never kill a decode job (the r11
    valid_vectors principle applied to the media kernels): header decode
    treats NULL as empty bytes, resize emits an all-null feature row,
    frame sampling contributes no rows."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "media": [M.make_png_rgb(6, 5, 9), None]}
    )
    df = spark.createDataFrame(pdf)
    feats = {r["doc_id"]: r for r in M.decode_image_features(df).collect()}
    assert feats[1]["format"] == "png" and feats[1]["mean_luma"] is not None
    assert feats[2]["format"] is None and feats[2]["byte_len"] == 0
    rz = {r["doc_id"]: r for r in M.resize_image_features(df, 4).collect()}
    assert rz[1]["nn_luma_sum"] is not None and rz[2]["nn_luma_sum"] is None
    gif = M.make_gif_gray_animated(4, 3, 2, 5, lambda f, x, y: (f + x + y) % 256)
    pdf2 = pd.DataFrame({"doc_id": [1, 2], "media": [gif, None]})
    rows = M.frame_sample_features(spark.createDataFrame(pdf2), 60).collect()
    assert {r["doc_id"] for r in rows} == {1}


def test_ivf_pq_topk_vs_python_reference(spark):
    """ivf_pq_topk_fixed vs an independent numpy reference of the whole
    pipeline (cell assign, probe choice, PQ encode, ADC, rank) on random
    data — exact (qid, rank, nid, dist) row-set equality, integer
    arithmetic end to end."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((120, 16))
    corpus = spark.createDataFrame(
        [(i + 100, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries_np = vecs[:6] + rng.standard_normal((6, 16)) * 0.02
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(queries_np)],
        "vec_id long, embedding array<double>",
    )
    centroids = corpus.filter("vec_id < 108")   # 8 cells
    codebook = corpus.filter("vec_id >= 108 and vec_id < 116")  # 8 codewords
    got = {
        (r["qid"], r["rank"], r["nid"], r["dist"])
        for r in S.ivf_pq_topk_fixed(
            corpus, queries, centroids, codebook, m=4, k=2, n_probe=3
        ).collect()
    }

    q6 = lambda a: np.floor(np.asarray(a, float) * 1_000_000).astype(np.int64)  # noqa: E731
    V, Q = q6(vecs), q6(queries_np)
    C, B = V[:8], V[8:16]
    cent_ids = np.arange(100, 108)
    cells = cent_ids[((V[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)]
    Bs, Vs, Qs = B.reshape(8, 4, 4), V.reshape(120, 4, 4), Q.reshape(6, 4, 4)
    codes = np.stack(
        [((Vs[:, None, j, :] - Bs[None, :, j, :]) ** 2).sum(-1).argmin(1)
         for j in range(4)], axis=1)
    exp = set()
    for qi in range(6):
        d2c = ((Q[qi] - C) ** 2).reshape(8, -1).sum(-1)
        probed = set(cent_ids[np.lexsort((cent_ids, d2c))[:3]])
        cand = [n for n in range(120) if cells[n] in probed]
        dists = sorted(
            (sum(int(((Qs[qi, j] - Bs[codes[n, j], j]) ** 2).sum())
                 for j in range(4)), n + 100)
            for n in cand
        )
        for rank, (d, nid) in enumerate(dists[:2], 1):
            exp.add((qi, rank, nid, d))
    assert got == exp


def test_dhash56_against_python_reference():
    """dhash56's numpy kernel vs an independent per-pixel Python
    reference (decode via the shared decoder, then naive loops): same
    grid indices, same integer gray, same bit order. Identical images
    hash identically; the all-zero (flat) image hashes to 0; invalid
    blobs return None; the hash stays below 2^56 (sign-safe)."""
    from flink_cdc_multi_spark.operators import multimodal as M

    def py_ref(blob):
        px = M.png_decode_pixels(blob)
        if px is None:
            return None
        h, w = px.shape[0], px.shape[1]
        def gray(x, y):
            p = px[y][x]
            if px.shape[2] == 1:
                return 1000 * int(p[0])
            return 299 * int(p[0]) + 587 * int(p[1]) + 114 * int(p[2])
        out = 0
        for ty in range(7):
            for tx in range(8):
                x0 = (tx * w) // 9
                x1 = ((tx + 1) * w) // 9
                y = (ty * h) // 7
                if gray(x1, y) > gray(x0, y):
                    out |= 1 << (ty * 8 + tx)
        return out

    for w, h, s in [(4, 4, 0), (27, 19, 77), (9, 7, 255), (16, 5, 128)]:
        blob = M.make_png_rgb(w, h, s)
        got = M.dhash56(blob)
        assert got == py_ref(blob), (w, h, s)
        assert 0 <= got < (1 << 56)
        assert M.dhash56(blob) == got  # deterministic
    assert M.dhash56(b"not a png") is None
    flat = M.make_png_rgb(1, 1, 10)  # single pixel: every sample equal
    assert M.dhash56(flat) == 0


def test_dhash_exact_dedup_composition(spark):
    """Duplicate-image groups = dhash56 → exact_dedup on the hash (the
    documented composition): identical images (same generator params)
    collide and keep one representative; a distinct image survives.
    Invalid blobs hash to NULL and are excluded before grouping (NULL
    keys would otherwise form a fake 'group')."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    rows = [
        (1, M.make_png_rgb(12, 9, 7)),
        (2, M.make_png_rgb(12, 9, 7)),    # exact duplicate of 1
        (3, M.make_png_rgb(12, 9, 7)),    # exact duplicate of 1
        # distinct hash (hamming 36 from the group above — small dims
        # make the mod-256 wraps land inside the sampled grid; a big
        # smooth gradient would dHash-collide with other big gradients,
        # which is the point of a perceptual hash)
        (4, M.make_png_rgb(4, 4, 250)),
        (5, b"corrupt"),                  # invalid: excluded
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "media": [r[1] for r in rows]})
    )

    def hash_batch(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "dhash": pd.array(
                    [M.dhash56(bytes(b)) for b in pdf["media"]], dtype="Int64"
                ),
            })

    hashed = df.mapInPandas(hash_batch, "doc_id long, dhash long").filter(
        F.col("dhash").isNotNull()
    )
    reps = {r["doc_id"] for r in D.exact_dedup(hashed, ["dhash"], "doc_id").collect()}
    assert reps == {1, 4}


def test_dhash_pairs_pigeonhole(spark):
    """dhash_pairs: identical images pair at hamming 0 via the fused
    pigeonhole join (exact for hamming <= 3: 4 blocks guarantee an equal
    block); far-apart hashes (hamming 36 here) never pair; NULL hashes
    (undecodable blobs) are excluded."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    blobs = {
        1: M.make_png_rgb(12, 9, 7),
        2: M.make_png_rgb(12, 9, 7),   # identical to 1
        3: M.make_png_rgb(4, 4, 250),  # hamming 36 from the pair
        4: None,
    }
    rows = [(i, None if b is None else M.dhash56(b)) for i, b in blobs.items()]
    hashed = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "dhash": pd.array([r[1] for r in rows], dtype="Int64")})
    )
    got = {(r["a_id"], r["b_id"], r["hamming"])
           for r in M.dhash_pairs(hashed).collect()}
    assert got == {(1, 2, 0)}


def test_decode_pixels_dispatch_all_formats():
    """decode_pixels (r13): the format dispatcher routes each container
    magic to its real decoder and every leg agrees with an independent
    per-pixel reference; dhash56 is therefore format-general. Garbage
    and out-of-profile blobs return None."""
    import numpy as np

    from flink_cdc_multi_spark.operators import multimodal as M

    # PNG RGB: closed-form pattern
    px = M.decode_pixels(M.make_png_rgb(11, 7, 42))
    assert px.shape == (7, 11, 3)
    for x, y in [(0, 0), (10, 6), (3, 5)]:
        assert tuple(px[y, x]) == (
            (42 + x) % 256, (42 + y) % 256, (42 + x + y) % 256
        )

    # JPEG DC-only grayscale: pixel = dc + 128 exactly, (h, w, 1)
    px = M.decode_pixels(M.make_jpeg_gray_dc(16, 8, [-5, 30]))
    assert px.shape == (8, 16, 1)
    assert px[3, 3, 0] == 123 and px[3, 11, 0] == 158

    # JPEG with AC coefficients: matrix sum must equal the luma_sum path
    blocks = [[7] + [0] * 63, [12] + [0] * 63]
    blocks[1][1] = 25
    blob = M.make_jpeg_gray(16, 8, blocks)
    px = M.decode_pixels(blob)
    total, n = M.jpeg_gray_luma_sum(blob)
    assert int(px.astype(np.int64).sum()) == total and n == 128

    # color JPEG (r13): DC-only blocks decode to exact flat planes and
    # libjpeg fixed-point YCbCr→RGB — checked against an independent
    # per-pixel reference of the same integer contract
    blob = M.make_jpeg_color_dc(16, 8, [10, -20], [5, -8], [-3, 7])
    px = M.decode_pixels(blob)
    assert px.shape == (8, 16, 3)

    def ref_rgb(y, cb, cr):
        bias = (1 << 25) + 32768
        r = y + ((91881 * cr + bias) >> 16) - 512
        g = y - (((22554 * cb + 46802 * cr + bias) >> 16) - 512)
        b = y + ((116130 * cb + bias) >> 16) - 512
        return tuple(max(0, min(255, v)) for v in (r, g, b))

    for bi, (dy, db, dr) in enumerate(zip([10, -20], [5, -8], [-3, 7])):
        assert tuple(int(v) for v in px[3, bi * 8 + 2]) == ref_rgb(dy + 128, db, dr)
    # AC color blocks decode deterministically through the integer IDCT
    by = [[30] + [0] * 63, [0] * 64]
    by[1][1] = 15
    blob_ac = M.make_jpeg_color(16, 8, by, [[2] + [0] * 63] * 2, [[0] * 64] * 2)
    px_ac = M.jpeg_color_decode_pixels(blob_ac)
    assert px_ac is not None and (M.jpeg_color_decode_pixels(blob_ac) == px_ac).all()
    # profile outs: gray blob is not the color decoder's job (dispatch
    # routes it to the gray path)
    assert M.jpeg_color_decode_pixels(M.make_jpeg_gray_dc(8, 8, [3])) is None
    assert M.dhash56(blob) is not None

    # 4:2:0 (r13): 32x16, 8 Y blocks + 2 chroma blocks; box upsampling
    # means pixel chroma = half-res block (y//16, x//16)
    dc_y = [(7 * b) % 100 - 50 for b in range(8)]
    blob420 = M.make_jpeg_color_420_dc(32, 16, dc_y, [5, -8], [-3, 7])
    px = M.decode_pixels(blob420)
    assert px.shape == (16, 32, 3)
    for x, yy in [(0, 0), (9, 3), (17, 9), (31, 15)]:
        yb = (yy // 8) * 4 + x // 8
        mb = x // 16
        assert tuple(int(v) for v in px[yy, x]) == ref_rgb(
            dc_y[yb] + 128, [5, -8][mb], [-3, 7][mb]
        )
    assert M.dhash56(blob420) is not None

    # GIF gray palette → RGB triplets all equal the index value
    px = M.decode_pixels(M.make_gif_gray(9, 5, lambda x, y: (x * 20 + y) % 256))
    assert px.shape == (5, 9, 3)
    assert tuple(px[2, 4]) == (82, 82, 82)

    # BMP bottom-up: normalized to top-down y
    px = M.decode_pixels(
        M.make_bmp_rgb(6, 4, lambda x, y: (x * 9 % 256, y * 31 % 256, 77))
    )
    assert px.shape == (4, 6, 3)
    assert tuple(px[3, 5]) == (45, 93, 77)

    # dhash56 now hashes every format; out-of-profile / garbage → None
    for blob in (
        M.make_png_rgb(8, 8, 1),
        M.make_jpeg_gray_dc(8, 8, [3]),
        M.make_gif_gray(8, 8, lambda x, y: x),
        M.make_bmp_rgb(8, 8, lambda x, y: (x, y, 0)),
    ):
        assert M.dhash56(blob) is not None
    assert M.decode_pixels(b"garbage") is None
    assert M.decode_pixels(None) is None
    assert M.dhash56(M.make_tiny_png(4, 4)) is None  # no IDAT: out of profile


def test_graph_pagerank_triangle_fixpoint(spark, tmp_path):
    """ext_graph_pagerank (r13): on a complete triangle of identical
    docs the integer formula is a FIXPOINT at the initial 1,000,000
    (deg 2, contribution 500,000, in-sum 1,000,000 → 150,000 +
    85% · 1,000,000 = 1,000,000) — hand-checkable; the isolated doc has
    no edges and is absent from the result by contract."""
    import os

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "totally different words here now"),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    from flink_cdc_multi_spark.plans import extensions as E

    got = {r["doc_id"]: r["pr"] for r in E.ext_graph_pagerank(spark, sf).collect()}
    assert got == {0: 1_000_000, 1: 1_000_000, 2: 1_000_000}


def test_audio_hash56_properties():
    """audio_hash56 (r13): deterministic on identical clips; GAIN
    INVARIANT (scaling every sample by a constant scales every window's
    energy by its square — delta signs unchanged); sensitive to moving
    energy between windows; None for short clips (< 57 samples) and
    non-PCM16 garbage."""
    import numpy as np

    from flink_cdc_multi_spark.operators import multimodal as M

    rng = np.random.RandomState(5)
    base = rng.randint(-800, 800, size=400)
    blob = M.make_wav_pcm16(8000, base)
    h = M.audio_hash56(blob)
    assert h is not None and 0 <= h < (1 << 56)
    assert M.audio_hash56(M.make_wav_pcm16(16000, base)) == h  # rate-free
    assert M.audio_hash56(M.make_wav_pcm16(8000, base * 3)) == h  # gain
    loud = base.copy()
    loud[:7] = 30000  # blast the first window
    h2 = M.audio_hash56(M.make_wav_pcm16(8000, loud))
    assert h2 != h and (h2 & 1) == 0  # e[1] > e[0] now false
    assert M.audio_hash56(M.make_wav_pcm16(8000, base[:56])) is None
    assert M.audio_hash56(b"RIFFgarbage") is None
    assert M.audio_hash56(M.make_wav_pcm16(8000, base[:57])) is not None


def test_dhash_pairs_blocks_scale_with_max_hamming(spark):
    """The pigeonhole block count is DERIVED from max_hamming (ADVICE
    r12): max_hamming >= 4 widens to 7 blocks instead of silently going
    probabilistic; >= 56 is rejected outright. Exactness check: a pair at
    hamming 5 is found under max_hamming=5 (needs >= 6 blocks — with the
    old fixed 4x14 blocking, 5 flipped bits could straddle all 4
    blocks)."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    base = 0
    # flip 5 bits spread so every 14-bit block of the 4x14 layout is hit,
    # but the 7x8 layout still has an untouched block
    flipped = base ^ (1 << 0) ^ (1 << 14) ^ (1 << 28) ^ (1 << 42) ^ (1 << 43)
    hashed = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2],
                      "dhash": pd.array([base, flipped], dtype="Int64")})
    )
    got = {(r["a_id"], r["b_id"], r["hamming"])
           for r in M.dhash_pairs(hashed, max_hamming=5).collect()}
    assert got == {(1, 2, 5)}
    import pytest

    with pytest.raises(ValueError, match="max_hamming"):
        M.dhash_pairs(hashed, max_hamming=56)


def test_span_dedup_planted_semantics(spark, tmp_path):
    """ext_dedup_spans (r13): the Lee-et-al span-dedup signal on planted
    rows — a 5-token window shared across two docs is a dup in BOTH; a
    doc's own repeated window counts (all copies are dups); unique text
    has zero dups; a short doc (<5 tokens) is one whole-text window and
    pairs only with an identical short doc."""
    import os

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),     # windows: 2
        (1, "the copied five token span is here"),
        (2, "prefix the copied five token span trails"),  # shares windows w/ 1
        (3, "one two three one two three one two three one two three"),
        (4, "tiny doc"),                                  # whole-text window
        (5, "tiny doc"),                                  # identical short doc
        (6, "completely unique text with no repeats anywhere at all"),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    from flink_cdc_multi_spark.plans import extensions as E

    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
           for r in E.ext_dedup_spans(spark, sf).collect()}
    assert got[0] == (2, 0)
    # doc1: 3 windows ("the copied five token span", "copied five token
    # span is", "five token span is here"); doc2's middle window "the
    # copied five token span" matches doc1's first → 1 dup each
    assert got[1] == (3, 1)
    assert got[2] == (3, 1)
    # doc3: 12 tokens → 8 windows of the repeating trigram phrase; every
    # window string recurs (rolling period 3 → window i == window i+3,
    # giving each of the 3 distinct strings count >= 2) → all 8 dup
    assert got[3] == (8, 8)
    assert got[4] == (1, 1) and got[5] == (1, 1)  # identical short docs
    assert got[6] == (5, 0)  # 9 tokens -> 5 windows, all unique


def test_ext_dedup_images_planted_pairs(spark):
    """ext_dedup_images (r13): the planted near-copy contract holds on
    real decoded pixels — every group's (m0 GIF, m1 BMP) pair is found
    (cross-format: even gids at hamming 0, odd gids at hamming <= 2),
    and no planted decoy (m2) of the same group pairs with its base."""
    from flink_cdc_multi_spark.plans import extensions as E

    pairs = E.ext_dedup_images(spark, "/root/testdata/sf0.001").collect()
    got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs}
    n_docs = 60  # spot-check the first 20 groups (doc_ids 0..59)
    for gid in range(n_docs // 3):
        a, b, decoy = 3 * gid, 3 * gid + 1, 3 * gid + 2
        assert (a, b) in got, f"planted pair of group {gid} missed"
        if gid % 2 == 0:
            assert got[(a, b)] == 0  # exact cross-format copy
        else:
            assert got[(a, b)] <= 2  # perturbed copy
        assert (a, decoy) not in got and (b, decoy) not in got


def test_brute_force_topk_all_queries_ragged_returns_empty(spark):
    """If every query drops at the NULL/ragged gate, the vectorized
    branch returns an EMPTY (qid, rank, nid) frame — not a plan-time
    np.stack([]) ValueError (ADVICE r12)."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": [100, 101],
                      "embedding": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "embedding": [[1.0], [0.5]]})
    )
    out = S.brute_force_topk(corpus, queries, k=2, dim=3)
    assert out.columns == ["qid", "rank", "nid"]
    assert out.count() == 0


def test_line_dedup_semantics(spark):
    """line_dedup (r12, C4-style): cross-doc duplicate lines survive only
    at min (doc_id, pos); in-doc repeats drop; whitespace-only lines
    never dedup; reconstruction preserves original order; a doc whose
    every line is dropped reassembles to ''."""
    rows = [
        (1, "dup line\ndup line"),          # winner (1,0); (1,1) drops
        (2, "first\ndup line\nlast"),       # middle copy drops
        (3, "   \ndup line\n   "),          # blanks kept, dup drops
        (4, "dup line"),                    # single line, all dropped
        (5, ""),                            # one empty line, kept
        (6, None),                          # NULL text: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["n_dropped"], r["clean_text"])
        for r in X.line_dedup(df).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1] == (1, 1, "dup line")
    assert got[2] == (2, 1, "first\nlast")
    assert got[3] == (2, 1, "   \n   ")
    assert got[4] == (0, 1, "")
    assert got[5] == (1, 0, "")


def test_line_dedup_fuzz_vs_python_reference(spark):
    """Randomized corpus (deterministic seed): heavy cross-doc and
    in-doc line duplication, blank and whitespace-only lines, empty
    docs. Full-output equality against an independent Python
    implementation of the winner rule + reconstruction."""
    import random

    rng = random.Random(42)
    lines_pool = [f"line {i}" for i in range(12)] + ["   ", "", "\t x"]
    docs = []
    for doc_id in range(40):
        n = rng.randint(0, 6)
        docs.append((doc_id, "\n".join(rng.choice(lines_pool) for _ in range(n))
                     if n else ""))

    # python reference
    # NB strip(" ") not strip(): Spark/DuckDB trim() strips SPACES only
    # (the pinned cross-engine contract) — a tab-only line is CONTENT
    winners = {}
    for doc_id, text in docs:
        for pos, line in enumerate(text.split("\n")):
            if line.strip(" ") == "":
                continue
            winners.setdefault(line, (doc_id, pos))
    expect = {}
    for doc_id, text in docs:
        kept_lines, n_kept, n_drop = [], 0, 0
        for pos, line in enumerate(text.split("\n")):
            is_content = line.strip(" ") != ""
            if not is_content or winners.get(line) == (doc_id, pos):
                kept_lines.append(line)
                n_kept += 1
            else:
                n_drop += 1
        expect[doc_id] = (n_kept, n_drop, "\n".join(kept_lines))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["n_dropped"], r["clean_text"])
        for r in X.line_dedup(df).collect()
    }
    assert got == expect


def test_learn_bpe_merges_matches_python_reference(spark):
    """learn_bpe_merges (r13): the distributed learner reproduces an
    independent per-word Python reference of the same algorithm —
    corpus-wide adjacent-pair counts over the CHAIN segmentation (apply
    learned merges once each in rank order), argmax by (count desc, a
    asc, b asc), early stop below min_count. Also: learned merges feed
    bpe_encode_table directly and NULL/non-letter rows are inert."""
    import re

    def py_segment(word, merges):
        seq = " " + "  ".join(word) + " "
        for a, b in merges:
            seq = seq.replace(f" {a}  {b} ", f" {a}{b} ")
        return re.sub(" +", " ", seq.strip()).split(" ")

    def py_learn(texts, n_merges, min_count):
        words = []
        for t in texts:
            if t is None:
                continue
            for raw in re.split(r"\s+", t.strip()):
                for w in re.sub(r"[^a-z]+", " ", raw.lower()).strip().split(" "):
                    if w:
                        words.append(w)
        merges = []
        for _ in range(n_merges):
            counts = {}
            for w in words:
                syms = py_segment(w, merges)
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + 1
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < min_count:
                break
            merges.append(best[0])
        return merges

    texts = [
        "low low low low low lower lower newest newest newest "
        "newest newest newest widest widest widest",
        "low lower newest widest newest",
        None,
        "123 !!!",
        "banana bandana banana",
        "ab12cd ab12cd ab12cd",  # embedded non-letter: 'ab' and 'cd' are
        # separate words — (b, c) must never be counted as a pair
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    from flink_cdc_multi_spark.operators import text as X2

    got = X2.learn_bpe_merges(df, n_merges=6, min_count=2)
    assert got == py_learn(texts, 6, 2)
    # the learned table plugs straight into the encoder
    enc = df.filter("doc_id = 0").select(
        X2.bpe_encode_table(F.col("text"), got).alias("e")
    ).first()["e"]
    ref = " ".join(
        s for w in texts[0].split() for s in py_segment(w, got)
    )
    assert enc == ref
    # min_count high enough: nothing clears the bar, empty table
    assert X2.learn_bpe_merges(df, n_merges=3, min_count=10**6) == []


def test_bpe_encode_table_fallback_matches_chain(spark, monkeypatch):
    """bpe_encode_table (r13): above MAX_CHAINED_MERGES (measured: 384
    nested replaces overflow the driver stack at plan construction) the
    encoder dispatches to an Arrow pandas_udf running the identical
    symbol-string algorithm. Pins: (a) same table through both paths →
    bit-identical output (fuzz texts incl. empty/None); (b) a 384-merge
    table CONSTRUCTS and executes through the fallback — the exact size
    that stack-overflowed the chain."""
    import itertools
    import random

    from flink_cdc_multi_spark.operators import text as X2

    rng = random.Random(11)
    alphabet = "theandingoustr"
    texts = [""]
    for _ in range(40):
        words = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
                 for _ in range(rng.randint(0, 6))]
        texts.append(" ".join(words))
    rows = [(i, t) for i, t in enumerate(texts)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(merges):
        return {
            r["doc_id"]: r["bpe"]
            for r in df.select(
                "doc_id", X2.bpe_encode_table(F.col("text"), merges).alias("bpe")
            ).collect()
        }

    chain_out = run(X2.BPE_MERGES)
    monkeypatch.setattr(X2, "MAX_CHAINED_MERGES", 0)  # force the fallback
    udf_out = run(X2.BPE_MERGES)
    assert udf_out == chain_out
    monkeypatch.undo()

    # 384 merges: the chain's measured stack-overflow size, served by the
    # fallback (the probe pins that the chain itself dies there)
    letters = "abcdefghijklmnopqrstuvwxyz"
    big = list(X2.BPE_MERGES) + [
        p for p in itertools.product(letters, repeat=2)
        if p not in set(X2.BPE_MERGES)
    ]
    big = big[:384]
    out = run(big)
    assert out[0] == "" and out[999] is None
    assert all(v is not None for k, v in out.items() if k != 999)
    # the big table's extra letter-pair merges actually fire
    two = df.select(
        X2.bpe_encode_table(F.lit("ab cd"), big).alias("bpe")
    ).first()["bpe"]
    assert two == "ab cd"  # ('a','b') and ('c','d') merged to one symbol each

    # constructibility contract (r14): a rank whose component no EARLIER
    # rank builds can never fire under chain semantics; the rank-dict
    # kernel must treat it as the same no-op, not fire it after a later
    # rank builds the component. ('ab','c') precedes ('a','b') here: the
    # chain leaves 'abc' as 'ab c'; a constructibility-blind min-rank
    # kernel would produce 'abc'.
    disordered = [("a", "b"), ("x", "y")] * 1  # rank 1 filler
    bad_first = [("ab", "c")] + disordered
    monkeypatch.setattr(X2, "MAX_CHAINED_MERGES", 0)
    got = df.sparkSession.range(1).select(
        X2.bpe_encode_table(F.lit("abc"), bad_first).alias("bpe")
    ).first()["bpe"]
    monkeypatch.undo()
    chain_ref = df.sparkSession.range(1).select(
        X2.bpe_encode_table(F.lit("abc"), bad_first).alias("bpe")
    ).first()["bpe"]
    assert got == chain_ref == "ab c"


def test_bpe_encode_fuzz_vs_python_reference(spark):
    """Randomized texts (deterministic seed) over a run-heavy alphabet —
    long repeated-symbol runs are exactly where a consumed-boundary
    replace() bug would diverge from symbol-space BPE."""
    import random
    import re

    from flink_cdc_multi_spark.operators.text import BPE_MERGES

    def py_bpe_doc(text):
        norm = re.sub(r"[^a-z]+", " ", text.lower()).strip()
        if not norm:
            return ""
        out = []
        for w in norm.split(" "):
            syms = list(w)
            for a, b in BPE_MERGES:
                nxt, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        nxt.append(a + b)
                        i += 2
                    else:
                        nxt.append(syms[i])
                        i += 1
                syms = nxt
            out.extend(syms)
        return " ".join(out)

    rng = random.Random(7)
    alphabet = "theandingoustr"  # merge-table letters: maximal merge density
    texts = []
    for _ in range(60):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(0, 8))
        ]
        texts.append(" ".join(words))
    rows = [(i, t) for i, t in enumerate(texts)]
    got = {
        r["doc_id"]: r["bpe"]
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", X.bpe_encode(F.col("text")).alias("bpe"))
        .collect()
    }
    for i, t in rows:
        assert got[i] == py_bpe_doc(t), (t, got[i])


def test_quality_score_threshold_budget_composition(spark):
    """The full classifier-filtered curation pipeline (VERDICT r11 item
    8): quality_score → threshold → per-source token-budget sample. Pins
    (a) the integer score against a pure-Python reference of the hashed
    linear model (bucket = unsigned xxh64 % 64 since the r17 fast lane —
    the reference reuses test_xxh64_sql's independent implementation),
    and (b) that the budget stage sees only threshold-surviving docs and
    cuts at the exact integer boundary."""
    from test_xxh64_sql import xxh64_py

    from pyspark.sql import Window

    from flink_cdc_multi_spark.operators.text import (
        QUALITY_BUCKETS,
        QUALITY_WEIGHTS,
    )

    rows = [
        (1, "the quick brown fox", "src0"),
        (2, "lorem ipsum dolor sit amet and then some more", "src0"),
        (3, "spam spam spam", "src1"),
        (4, "a decent looking document with many plain words", "src1"),
        (5, "", "src1"),          # no tokens: no score row
        (6, None, "src0"),        # NULL text: excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    scores = {
        r["doc_id"]: (r["score"], r["n_tokens"])
        for r in X.quality_score(docs).collect()
    }

    def py_score(text):
        toks = text.strip().split()
        s = sum(
            QUALITY_WEIGHTS[xxh64_py(t.encode()) % QUALITY_BUCKETS]
            for t in toks
        )
        return s, len(toks)

    for doc_id, text, _ in rows:
        if text and text.strip():
            assert scores[doc_id] == py_score(text), doc_id
        else:
            assert doc_id not in scores

    # threshold → budget: survivors (score >= 0) sampled per source until
    # an 8-token budget is exhausted (exclusive running total < budget)
    surv = X.quality_score(docs).filter(F.col("score") >= 0)
    kept = docs.join(surv, "doc_id")
    n_tok = X.token_count(F.col("text")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sampled = (
        kept.select("doc_id", "source", n_tok.alias("n"))
        .withColumn("before", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .filter(F.col("before") < 8)
        .collect()
    )
    got = {r["doc_id"] for r in sampled}
    # python reference of the whole pipeline
    by_source: dict = {}
    expect = set()
    for doc_id, text, source in rows:
        if not text or not text.strip():
            continue
        s, n = py_score(text)
        if s < 0:
            continue
        before = by_source.get(source, 0)
        if before < 8:
            expect.add(doc_id)
        by_source[source] = before + n
    assert got == expect and got  # equal and non-vacuous


def test_assign_cells_int64_fallback_for_large_magnitudes(spark):
    """Out-of-unit-scale embeddings (|x| ~ 100 → quantized ~1e8) exceed
    the float64 2^53 exactness bound, so assign_cells must take the
    blocked exact-int64 path and still match a per-row exact Python
    reference — including the lowest-cid tie-break."""
    import numpy as np

    rng = np.random.RandomState(9)
    vecs = rng.uniform(-120, 120, size=(50, 8))
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    # centroid 3 duplicates centroid 1: every vector TIES between cid 101
    # and 103 and must land in 101
    cents = [(100, vecs[0].tolist()), (101, vecs[1].tolist()),
             (102, vecs[2].tolist()), (103, vecs[1].tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(cents, "vec_id long, embedding array<double>")
    got = {
        r["id"]: r["cell"]
        for r in S.assign_cells(df, cdf, dim=8).collect()
    }

    q6 = lambda a: np.floor(np.asarray(a, float) * 1_000_000).astype(object)
    for i, v in rows:
        qv = q6(v)
        best = None
        for cid, cv in cents:
            d2 = int(sum((a - b) ** 2 for a, b in zip(qv, q6(cv))))
            if best is None or (d2, cid) < best:
                best = (d2, cid)
        assert got[i] == best[1], i
    assert 103 not in set(got.values())  # ties broke to the lower cid


def test_semantic_dedup_keep_one_per_cell(spark):
    """semantic_dedup semantics on a constructed fixture: near-dups in
    the SAME cell keep only the lowest id; the same direction split
    across DIFFERENT cells keeps both (cells bound the comparison — the
    SemDeDup trade); orthogonal vectors are kept; a zero-norm vector is
    never dropped (NaN cosine fails the threshold by contract)."""
    # centroids at +x and +y: cell assignment by integer-quantized L2
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    rows = [
        (10, [2.0, 0.1]),    # cell 0
        (11, [1.9, 0.12]),   # cell 0, ~same direction as 10 → dropped
        (12, [0.1, 2.0]),    # cell 1 — near-parallel to 13
        (13, [0.12, 1.9]),   # cell 1, dropped (12 keeps)
        (14, [0.9, 1.0]),    # cell 1 boundary-ish; direction far from 12
        (15, [0.0, 0.0]),    # zero-norm: kept, never a neighbor
        (16, None),          # NULL: excluded entirely
        (17, [1.0]),         # ragged: excluded entirely
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in D.semantic_dedup(df, cents, dim=2, threshold=0.95).collect()
    }
    assert set(got) == {10, 11, 12, 13, 14, 15}
    assert got[10] == (0, True)
    assert got[11] == (0, False)
    assert got[12] == (1, True)
    assert got[13] == (1, False)
    assert got[14][1] is True
    assert got[15][1] is True


def test_semantic_dedup_drops_subset_of_exact_and_planted_recall(spark):
    """PERF.md r12 quality contract: (a) same-threshold semantic drops
    are a strict subset of the exact all-pairs keep-one drops (in-cell
    pairs ⊆ all pairs — zero false drops, the theorem made a regression
    net); (b) planted true near-dups (2% noise, cos≈0.999) are caught
    in-cell at high recall — the regime SemDeDup targets."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.standard_normal((300, 64))
    planted = [
        (2000 + i, (base[i] + rng.standard_normal(64) * 0.02).tolist())
        for i in range(30)
    ]
    rows = [(i, base[i].tolist()) for i in range(300)] + planted
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.filter("vec_id >= 100 and vec_id < 132")  # 32 cells

    sem = D.semantic_dedup(df, cents, dim=64, threshold=0.98).collect()
    sem_dropped = {r["vec_id"] for r in sem if not r["kept"]}

    # exact keep-one replay from the all-pairs operator
    import collections

    pairs = D.embedding_neardup_pairs(df, threshold=0.98, max_rows=None).collect()
    lows = collections.defaultdict(set)
    for r in pairs:
        lows[r["b_id"]].add(r["a_id"])
    exact_dropped = set(lows)

    assert sem_dropped <= exact_dropped  # never a false drop
    caught = sum(1 for i in range(30) if (2000 + i) in sem_dropped)
    assert caught >= 27, f"planted near-dup recall too low: {caught}/30"


def test_bpe_encode_matches_symbol_space_reference(spark):
    """bpe_encode's string-replace construction vs an independent
    SYMBOL-SPACE implementation of canonical greedy BPE (per merge rank,
    non-overlapping left-to-right pair merge). Repeated-symbol runs
    ('aaaa' → [aa, aa]), multi-level merges (th→the→ther), word
    boundaries, punctuation/unicode normalization, and empty/degenerate
    inputs are all in the fixture — this is the proof that the two-space
    rendering trick IS the BPE merge pass, not an approximation."""
    import re

    from flink_cdc_multi_spark.operators.text import BPE_MERGES

    def py_bpe_word(word):
        syms = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def py_bpe_doc(text):
        norm = re.sub(r"[^a-z]+", " ", text.lower()).strip()
        if not norm:
            return ""
        return " ".join(s for w in norm.split(" ") for s in py_bpe_word(w))

    texts = [
        "aaaa", "aaa", "aa a aaa aaaa",  # repeated runs: [aa,aa] not [aa,a,a]
        "the theory is that the weather thermometer is there",
        "thththth", "and and sand band banding",
        "ingesting interesting things, ingeniously!",
        "Hello, World! 42 times…",  # punctuation/digits/unicode collapse
        "", "   ", "!!!", "x", "þorn über naïve",  # degenerate + unicode
        "at rest the rat ate our oat atthe",
        "standing outstanding andand nananan",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bpe"]
        for r in df.select(
            "doc_id", X.bpe_encode(F.col("text")).alias("bpe")
        ).collect()
    }
    for i, t in rows:
        assert got[i] == py_bpe_doc(t), (t, got[i], py_bpe_doc(t))


def test_ivfpq_index_persist_and_serve(spark, tmp_path):
    """write_ann_index / ivf_pq_topk_indexed (r12, VERDICT r11 item 1):
    the persisted index serves results IDENTICAL to the inline encode,
    and the serve plan runs ZERO corpus scans — only the (nid, cell,
    codes) parquet appears in the executed plan. This is the
    build-once/query-many amortization of the documented eager
    plan-time index build."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((120, 16))
    corpus_path = str(tmp_path / "corpus_vectors")
    spark.createDataFrame(
        [(i + 100, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    queries = spark.createDataFrame(
        [(i, (vecs[i] + rng.standard_normal(16) * 0.02).tolist()) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    centroids = corpus.filter("vec_id < 108")
    codebook = corpus.filter("vec_id >= 108 and vec_id < 116")

    idx = str(tmp_path / "idx")
    S.write_ann_index(corpus, centroids, codebook, idx, m=4)
    inline = sorted(
        map(tuple, S.ivf_pq_topk_fixed(
            corpus, queries, centroids, codebook, m=4, k=2, n_probe=3
        ).collect())
    )
    served_df = S.ivf_pq_topk_indexed(spark, idx, queries, k=2, n_probe=3)
    served = sorted(map(tuple, served_df.collect()))
    assert served == inline

    # plan pin: the EXECUTED plan scans only the index codes, never the
    # corpus vectors (zero corpus-scan jobs at query time)
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    assert "corpus_vectors" not in plan, "indexed serve re-scanned the corpus"
    assert "codes" in plan

    # residual variant (r12): the persisted index records residual=True
    # and the serve reproduces the inline residual form exactly (the
    # artifact stores the RAW codebook; residualization is deterministic
    # and recomputed on read)
    idx_r = str(tmp_path / "idx_res")
    S.write_ann_index(corpus, centroids, codebook, idx_r, m=4, residual=True)
    inline_r = sorted(
        map(tuple, S.ivf_pq_topk_fixed(
            corpus, queries, centroids, codebook, m=4, k=2, n_probe=3,
            residual=True,
        ).collect())
    )
    served_r = sorted(
        map(tuple,
            S.ivf_pq_topk_indexed(spark, idx_r, queries, k=2, n_probe=3).collect())
    )
    assert served_r == inline_r
    assert inline_r != inline  # residual codes genuinely differ

    # manifest validation: a non-index dir is refused
    import json as _json
    import os as _os

    bad = str(tmp_path / "bad")
    _os.makedirs(bad)
    with open(_os.path.join(bad, "meta.json"), "w") as f:
        _json.dump({"format": "something-else"}, f)
    with pytest.raises(ValueError, match="ivfpq-v1"):
        S.read_ann_index(spark, bad)

    # fsio meta routing (ADVICE r12): a SCHEME'd path round-trips —
    # meta.json goes through Hadoop FS like the parquet legs, so a
    # remote artifact re-attaches from any host (file:/ is the
    # sandbox-testable scheme'd filesystem)
    idx_s = f"file:{tmp_path}/idx_scheme"
    S.write_ann_index(corpus, centroids, codebook, idx_s, m=4)
    assert _os.path.exists(_os.path.join(str(tmp_path), "idx_scheme", "meta.json"))
    served_s = sorted(
        map(tuple,
            S.ivf_pq_topk_indexed(spark, idx_s, queries, k=2, n_probe=3).collect())
    )
    assert served_s == inline


def test_trained_pq_codewords_roundtrip_and_distortion(spark, tmp_path):
    """train_pq_codewords (r13, VERDICT r12 item 3): per-subspace kmeans
    on residuals. Pins: (a) deterministic — two fits agree bit-exactly;
    (b) the trained codebook quantizes residuals with LOWER distortion
    than the untrained residualized data-vector codebook (the trainer's
    objective; the recall table lives in PERF.md "r13: residual-TRAINED
    codewords");
    (c) a trained index round-trips through write_ann_index with
    codebook_scale='residual-trained' and serves IDENTICAL results to
    the inline trained path — i.e. the read path must NOT
    re-residualize the already-residual-scale codewords."""
    import numpy as np

    rng = np.random.RandomState(3)
    n, dim, m, ncw = 400, 16, 4, 8
    means = rng.standard_normal((4, dim))
    vecs = means[rng.randint(4, size=n)] + rng.standard_normal((n, dim)) * 0.3
    corpus_path = str(tmp_path / "corpus_vectors")
    spark.createDataFrame(
        [(i + 100, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    centroids = corpus.filter("vec_id < 104")
    codebook = corpus.filter("vec_id >= 104 and vec_id < 112")
    queries = spark.createDataFrame(
        [(i, (vecs[i + 20] + rng.standard_normal(dim) * 0.05).tolist())
         for i in range(5)],
        "vec_id long, embedding array<double>",
    )

    tw = S.train_pq_codewords(corpus, centroids, m=m, n_codewords=ncw)
    tw2 = S.train_pq_codewords(corpus, centroids, m=m, n_codewords=ncw)
    assert np.array_equal(tw, tw2)  # deterministic
    assert tw.shape == (ncw, dim) and tw.dtype == np.int64

    # distortion: trained < untrained residualized codebook
    cent_ids, C = S._collect_q6_vectors(centroids, "vec_id", "embedding")
    cb_ids, Braw = S._collect_q6_vectors(codebook, "vec_id", "embedding")
    Bres = S._residualize_codebook(Braw, C)
    V = np.floor(vecs * S.LSH_QUANT).astype(np.int64)
    cidx = ((V[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    R = V - C[cidx]
    sub = dim // m

    def distortion(B):
        bsub = B.reshape(len(B), m, sub)
        tot = 0
        for j in range(m):
            d2 = ((R[:, None, j * sub:(j + 1) * sub]
                   - bsub[None, :, j, :]) ** 2).sum(-1)
            tot += d2.min(1).sum()
        return tot

    assert distortion(tw) < distortion(Bres)

    # inline trained == indexed trained (round-trip, no re-residualize)
    inline = sorted(map(tuple, S.ivf_pq_topk_fixed(
        corpus, queries, centroids, None, m=m, k=2, n_probe=2,
        residual=True, trained_codewords=tw,
    ).collect()))
    idx = str(tmp_path / "idx_trained")
    S.write_ann_index(corpus, centroids, None, idx, m=m,
                      residual=True, trained_codewords=tw)
    meta, _, _, (_, B_back) = S.read_ann_index(spark, idx)
    assert meta["codebook_scale"] == "residual-trained"
    assert np.array_equal(B_back, tw)  # verbatim int64 round-trip
    served = sorted(map(tuple, S.ivf_pq_topk_indexed(
        spark, idx, queries, k=2, n_probe=2,
    ).collect()))
    assert served == inline

    # guard: trained codewords without residual=True are refused
    with pytest.raises(ValueError, match="residual"):
        S.write_ann_index(corpus, centroids, None, str(tmp_path / "bad2"),
                          m=m, trained_codewords=tw)

    # fully trained (r13): trained coarse centroids + codewords trained
    # on THEIR residuals — round-trips with centroids_scale='trained'
    # and serves identical to the inline fully-trained form
    tc = S.train_ivf_centroids(corpus, n_cells=4, dim=dim)
    tc2 = S.train_ivf_centroids(corpus, n_cells=4, dim=dim)
    assert np.array_equal(tc, tc2) and tc.dtype == np.int64
    tw_full = S.train_pq_codewords(
        corpus, None, m=m, n_codewords=ncw, trained_centroids=tc
    )
    inline_full = sorted(map(tuple, S.ivf_pq_topk_fixed(
        corpus, queries, None, None, m=m, k=2, n_probe=2,
        residual=True, trained_codewords=tw_full, trained_centroids=tc,
    ).collect()))
    idx_f = str(tmp_path / "idx_full")
    S.write_ann_index(corpus, None, None, idx_f, m=m, residual=True,
                      trained_codewords=tw_full, trained_centroids=tc)
    meta_f, _, (_, C_back), _ = S.read_ann_index(spark, idx_f)
    assert meta_f["centroids_scale"] == "trained"
    assert np.array_equal(C_back, tc)
    served_f = sorted(map(tuple, S.ivf_pq_topk_indexed(
        spark, idx_f, queries, k=2, n_probe=2,
    ).collect()))
    assert served_f == inline_full


def test_drop_duplicate_spans_planted_fixture(spark):
    """drop_duplicate_spans (r14, VERDICT r13 item 3) on a planted
    corpus — pins every clause of the removal contract:
    - cross-doc excision: doc 2 shares doc 1's 5-token prefix window;
      canonical is (1, 0), so doc 2 loses tokens 0-4 and keeps 'x';
    - within-doc keep-first + overlapping-span position union: doc 3 is
      'p q r s t' three times; every window at pos >= 5 is a dup of an
      earlier one, so positions 5-14 are excised and exactly the FIRST
      occurrence survives;
    - whole-text-window removal on short docs: doc 5 duplicates doc 4's
      1-token text; canonical (4, 0) keeps, doc 5 is emptied;
    - whitespace rows: docs 6/7 tokenize to [''] and share the ''
      window — the canonical (6, 0) 'keeps' it, doc 7 removes it; both
      render as '' (array_join of either [] or [''])."""
    df = spark.createDataFrame(
        [(1, "a b c d e f"),
         (2, "a b c d e x"),
         (3, "p q r s t p q r s t p q r s t"),
         (4, "hello"),
         (5, "hello"),
         (6, "   "),
         (7, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
           for r in D.drop_duplicate_spans(df).collect()}
    assert out == {
        1: (6, 0, "a b c d e f"),
        2: (6, 5, "x"),
        3: (15, 10, "p q r s t"),
        4: (1, 0, "hello"),
        5: (1, 1, ""),
        6: (1, 0, ""),
        7: (1, 1, ""),
    }


def test_drop_duplicate_spans_hostile_rows(spark):
    """Exact output on hostile shapes: tab/newline whitespace (trim
    strips spaces ONLY, so the edge tabs split into empty tokens), short
    docs sharing whole-text windows, a doc whose every window repeats,
    canonical ties across docs, NULL text (no row), and a doc with
    exactly n tokens (one window). The expected rows were also produced
    by the retired broadcast-freq topology (PERF.md "Retired lanes"),
    so they pin the semantics, not one physical shape."""
    rows = [
        (1, "a b c d e f g a b c d e f g"),
        (2, "a b c d e f g"),
        (3, "\t a\nb c d e \t"),
        (4, "\t a\nb c d e \t"),
        (5, None),
        (6, "one two three four five"),
        (7, "one two three four five"),
        (8, "solo"),
        (9, ""),
        (10, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, D.drop_duplicate_spans(df).collect()))
    assert got == [
        (1, 14, 7, "a b c d e f g"),
        (2, 7, 7, ""),
        (3, 7, 5, " "),
        (4, 7, 7, ""),
        (6, 5, 0, "one two three four five"),
        (7, 5, 5, ""),
        (8, 1, 0, "solo"),
        (9, 1, 0, ""),
        (10, 1, 1, ""),
    ]


def test_ext_ann_ivfpq_trained_artifact_contract(spark):
    """The gated trained-ANN query (r14, VERDICT r13 item 2): its
    artifact path is sf-INDEPENDENT (the static oracle SQL names it as a
    literal), so the contract is one-artifact-per-process with a rebuild
    whenever sf_dir changes. Pins: (a) the oracle SQL embeds exactly
    _trained_index_path(); (b) after running the query the artifact
    holds trained-scale models; (c) a different sf_dir triggers a
    rebuild at the SAME path (the cache key is the sf, not the path)."""
    import json as _json
    import os as _os

    import flink_cdc_multi_spark.plans.extensions as E

    path = E._trained_index_path()
    assert path in E.EXT_ORACLE_SQL["ext_ann_ivfpq_trained"]

    E.ext_ann_ivfpq_trained(spark, "/root/testdata/sf0.001").collect()
    with open(_os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    assert meta["codebook_scale"] == "residual-trained"
    assert meta["centroids_scale"] == "trained"
    assert spark._fcm_result_cache["ann_trained_sf"] == "/root/testdata/sf0.001"

    mtime = _os.path.getmtime(_os.path.join(path, "meta.json"))
    E.ext_ann_ivfpq_trained(spark, "/root/testdata/sf0.01").collect()
    assert spark._fcm_result_cache["ann_trained_sf"] == "/root/testdata/sf0.01"
    assert _os.path.getmtime(_os.path.join(path, "meta.json")) >= mtime
    # same sf again: memoized, no rebuild (mtime unchanged)
    mtime2 = _os.path.getmtime(_os.path.join(path, "meta.json"))
    E.ext_ann_ivfpq_trained(spark, "/root/testdata/sf0.01")
    assert _os.path.getmtime(_os.path.join(path, "meta.json")) == mtime2


def test_png_unfilter_paths_agree_across_cutoff():
    """The size-branched unfilter (byte loop < stride 80, numpy rows
    >= 80) must be pixel-identical across the cutoff and against the
    closed form, for widths straddling it (RGB stride = 3w: 78/81) and a
    large image — all five filter types in play (h >= 5)."""
    import numpy as np

    from flink_cdc_multi_spark.operators import multimodal as M

    for w, h, s in [(26, 9, 3), (27, 9, 3), (40, 11, 200), (120, 40, 99)]:
        px = M.png_decode_pixels(M.make_png_rgb(w, h, s))
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        ref = np.concatenate(
            [(s + x + 0 * y), (s + y + 0 * x), (s + x + y)], axis=2
        ) % 256
        assert (px == ref.astype(np.uint8)).all(), (w, h, s)


def test_png_decode_gray_and_rgba_channels():
    """The unfilter's left-neighbor lag is CHANNEL-COUNT dependent (Sub/
    Average/Paeth look back one whole pixel): decode grayscale (ctype 0)
    and RGBA (ctype 6) spec-valid PNGs built with all five filter types,
    at sizes on BOTH sides of the stride-80 path cutoff, and check every
    pixel against the generating pattern (alpha ignored by luma)."""
    import struct
    import zlib

    import numpy as np

    from flink_cdc_multi_spark.operators import multimodal as M

    def make_png(width, height, ctype, channels, px_fn):
        bpp = channels
        raw = bytearray()
        prev = bytes(width * bpp)
        for y in range(height):
            line = bytearray()
            for x in range(width):
                line += bytes(px_fn(x, y))
            f = y % 5
            raw.append(f)
            if f == 0:
                raw += line
            elif f == 1:
                raw += bytes(
                    (line[i] - (line[i - bpp] if i >= bpp else 0)) % 256
                    for i in range(len(line))
                )
            elif f == 2:
                raw += bytes((line[i] - prev[i]) % 256 for i in range(len(line)))
            elif f == 3:
                raw += bytes(
                    (line[i] - ((line[i - bpp] if i >= bpp else 0) + prev[i]) // 2)
                    % 256
                    for i in range(len(line))
                )
            else:
                raw += bytes(
                    (line[i] - M._paeth(
                        line[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )) % 256
                    for i in range(len(line))
                )
            prev = bytes(line)
        ihdr = struct.pack(">II5B", width, height, 8, ctype, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + M._png_chunk(b"IHDR", ihdr)
            + M._png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + M._png_chunk(b"IEND", b"")
        )

    # grayscale: stride = w -> 30 (byte loop) and 96 (numpy rows)
    for w in (30, 96):
        g = lambda x, y: ((7 * x + 13 * y + 5) % 256,)  # noqa: E731
        px = M.png_decode_pixels(make_png(w, 10, 0, 1, g))
        ref = np.fromfunction(
            lambda y, x: (7 * x + 13 * y + 5) % 256, (10, w)
        ).astype(np.uint8)
        assert px.shape == (10, w, 1) and (px[:, :, 0] == ref).all(), w
        s, n = M.png_luma_sum(make_png(w, 10, 0, 1, g))
        assert n == 10 * w and s == int(ref.astype(np.int64).sum()) * 1000, w
    # RGBA: stride = 4w -> 76 (byte loop) and 96 (numpy rows); alpha varies
    for w in (19, 24):
        rgba = lambda x, y: (  # noqa: E731
            (3 * x + y) % 256, (x + 5 * y) % 256, (x * y + 9) % 256,
            (11 * x + 2 * y) % 256,
        )
        px = M.png_decode_pixels(make_png(w, 9, 6, 4, rgba))
        assert px.shape == (9, w, 4)
        for y in (0, 4, 8):
            for x in (0, w // 2, w - 1):
                assert tuple(int(v) for v in px[y, x]) == rgba(x, y), (w, x, y)
        s, n = M.png_luma_sum(make_png(w, 9, 6, 4, rgba))
        exp = sum(
            299 * rgba(x, y)[0] + 587 * rgba(x, y)[1] + 114 * rgba(x, y)[2]
            for x in range(w) for y in range(9)
        )
        assert (s, n) == (exp, 9 * w), w


def test_frame_sampling_rejects_nonpositive_stride(spark):
    """every_ms <= 0 would spin the sampling loop forever on an executor:
    both the kernel and the operator must reject it eagerly."""
    import pandas as pd
    import pytest

    from flink_cdc_multi_spark.operators import multimodal as M

    blob = M.make_gif_gray_animated(4, 3, 2, 5, lambda f, x, y: 0)
    for bad in (0, -80):
        with pytest.raises(ValueError, match="every_ms"):
            M.sample_gif_frames(blob, bad)
        with pytest.raises(ValueError, match="every_ms"):
            M.frame_sample_features(
                spark.createDataFrame(pd.DataFrame({"doc_id": [1], "media": [blob]})),
                bad,
            )


def test_avi_mjpeg_round_trip_exact():
    """make_avi_mjpeg → avi_mjpeg_index → sample_avi_frames replays the
    DC-only closed form exactly: decoded pixel is dc+128, frame clock is
    dwMicroSecPerFrame, stride maps ts // frame_ms."""
    from flink_cdc_multi_spark.operators import multimodal as M

    for d in (0, 1, 5, 7, 11, 254):
        bw, bh, nf = d % 3 + 1, d % 2 + 1, d % 4 + 2
        frames = [
            M.make_jpeg_gray_dc(
                bw * 8, bh * 8,
                [((d * 7 + f * 19 + b * 13) % 201) - 100 for b in range(bw * bh)],
            )
            for f in range(nf)
        ]
        blob = M.make_avi_mjpeg(bw * 8, bh * 8, 50_000, frames)
        us, w, h, idx = M.avi_mjpeg_index(blob)
        assert (us, w, h, len(idx)) == (50_000, bw * 8, bh * 8, nf)
        got = M.sample_avi_frames(blob, 80)
        exp = []
        ts = 0
        while ts < nf * 50:
            fi = ts // 50
            luma = sum(
                64 * (((d * 7 + fi * 19 + b * 13) % 201) - 100 + 128)
                for b in range(bw * bh)
            )
            exp.append((ts, fi, luma, bw * bh * 64))
            ts += 80
        assert got == exp, (d, got, exp)


def test_avi_frame_sampling_selective_decode(monkeypatch):
    """Frames no sample lands in must NEVER pay JPEG entropy decode: a
    200 ms stride over 10 x 50 ms frames decodes 3 frames (0, 4, 8),
    not 10 — the property that makes sampling O(sampled), not
    O(container), at 100 TB."""
    from flink_cdc_multi_spark.operators import multimodal as M

    frames = [M.make_jpeg_gray_dc(8, 8, [f]) for f in range(10)]
    blob = M.make_avi_mjpeg(8, 8, 50_000, frames)
    calls = []
    real = M.jpeg_gray_luma_sum

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(M, "jpeg_gray_luma_sum", counting)
    rows = M.sample_avi_frames(blob, 200)
    assert [r[:2] for r in rows] == [(0, 0), (200, 4), (400, 8)]
    assert len(calls) == 3


def test_avi_sampler_rejections_and_fuzz():
    """Out-of-profile AVIs -> None, never fake rows or crashes: non-RIFF,
    RIFF-but-WAV, truncation at every prefix, zero frames, random byte
    corruption (decode either returns None or exact-profile rows — it
    must never raise)."""
    import random

    from flink_cdc_multi_spark.operators import multimodal as M

    assert M.sample_avi_frames(b"junk", 80) is None
    assert M.sample_avi_frames(M.make_wav_pcm16(8000, [0, 1, 2]), 80) is None
    frames = [M.make_jpeg_gray_dc(8, 8, [f]) for f in range(3)]
    blob = M.make_avi_mjpeg(8, 8, 50_000, frames)
    for cut in range(0, len(blob), 97):
        M.sample_avi_frames(blob[:cut], 80)  # must not raise
    rng = random.Random(7)
    for _ in range(200):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        M.sample_avi_frames(bytes(b), 80)  # must not raise
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.sample_avi_frames(blob, 0)


def test_avi_hostile_headers_never_raise_or_hang():
    """r15 review findings: (a) thousands of NESTED LIST headers must not
    blow the recursion limit (the walk is iterative now); (b) a hostile
    dwMicroSecPerFrame that implies billions of samples is out of
    profile -> None, never an unbounded driver/executor loop."""
    import struct as _struct

    from flink_cdc_multi_spark.operators import multimodal as M

    # (a) 5000 nested LISTs
    depth = 5000
    inner = b""
    for _ in range(depth):
        inner = b"LIST" + _struct.pack("<I", len(inner) + 4) + b"xxxx" + inner
    blob = b"RIFF" + _struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    assert M.avi_mjpeg_index(blob) is None  # no frames — and NO RecursionError

    # (b) absurd frame clock: 0xFFFFFFFF us/frame over 3 real frames
    frames = [M.make_jpeg_gray_dc(8, 8, [f]) for f in range(3)]
    hostile = M.make_avi_mjpeg(8, 8, 0xFFFFFFFF, frames)
    import time as _time

    t0 = _time.perf_counter()
    assert M.sample_avi_frames(hostile, 80) is None
    assert _time.perf_counter() - t0 < 1.0  # bounded, not a spin


def test_url_canonicalize_rules(spark):
    """url_canonicalize (r15): every rule and the ordering pins the
    docstring declares — fragment before utm (a '#' can hide a param),
    port before path handling, trailing slash LAST (port strip can
    expose one), whitespace deleted first so '$' anchors are portable."""
    import pyspark.sql.functions as F

    from flink_cdc_multi_spark.operators.text import url_canonicalize

    cases = [
        ("HTTP://WWW.Example.COM/Path/", "example.com/path"),
        ("https://example.com:443/a?utm_source=x", "example.com/a"),
        ("http://example.com:80/a/b", "example.com/a/b"),
        ("example.com/a?utm_a=1&utm_b=2", "example.com/a"),
        # first param utm, real param follows: '?' is re-anchored
        ("example.com/a?utm_a=1&q=2", "example.com/a?q=2"),
        ("example.com/a?q=2&utm_a=1", "example.com/a?q=2"),
        ("example.com/a#frag?utm_x=1", "example.com/a"),  # fragment hides param
        ("example.com:80", "example.com"),
        ("example.com:8080/a", "example.com:8080/a"),  # non-default port kept
        # r16 (VERDICT r15 finding, reproduced): leading utm + >=2 surviving
        # params — the greedy '^([^?]*)&' re-anchor rewrote the LAST '&'
        # ('example.com/a&q=2?r=3'), so this pair never deduped
        ("example.com/a?utm_x=1&q=2&r=3", "example.com/a?q=2&r=3"),
        ("example.com/a?q=2&r=3", "example.com/a?q=2&r=3"),
        # r16 (ADVICE r15): default-port strip is anchored to the authority —
        # a literal ':80/' or ':443?' in the PATH is not a port
        ("example.com/api/v1:80/x", "example.com/api/v1:80/x"),
        ("example.com/a:443?q=1", "example.com/a:443?q=1"),
        ("example.com:443?q=1", "example.com?q=1"),
        # '&'-leading param with no '?' anywhere: re-anchor restores it
        ("example.com/a&page=1&ref=home", "example.com/a?page=1&ref=home"),
        (" exam ple.com/a \n", "example.com/a"),  # whitespace incl newline
        ("https://www.site.com/", "site.com"),
        ("site.com/a/", "site.com/a"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(url_canonicalize(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases], list(zip(got, cases))


def test_hll_raw_branch_cross_engine_and_accuracy(spark, tmp_path):
    """ext_sketch_hll (r16): the gate fixture's vocabulary is tiny, so the
    driver gate only ever exercises the linear-counting branch — this test
    pins the RAW-estimator branch (v_filled saturating, raw > 160) on a
    synthetic 2000-distinct-token corpus: Spark and the DuckDB oracle must
    agree EXACTLY (the whole formulation is integer/string logic plus one
    shared-literal IEEE division), and the estimate must sit within the
    ~13% stderr band of m=64 HLL."""
    import duckdb

    import pandas as pd

    from flink_cdc_multi_spark.plans.extensions import (
        EXT_ORACLE_SQL,
        ext_sketch_hll,
    )

    texts = [
        " ".join(f"tok{i}_{j}" for j in range(20))
        for i in range(100)  # 100 docs x 20 unique tokens = 2000 distinct
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            "text": texts,
            "lang": ["en"] * 100,
            "source": ["s"] * 100,
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    got = ext_sketch_hll(spark, str(tmp_path)).collect()
    assert len(got) == 1
    row = got[0]
    assert row["v_filled"] == 64, "2000 tokens must saturate all 64 registers"
    est = row["est_distinct"]
    assert abs(est - 2000) / 2000 < 0.3, est  # ~2.3 sigma of the 13% stderr
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    oracle = con.execute(EXT_ORACLE_SQL["ext_sketch_hll"]).fetchall()
    assert oracle == [
        (row["lang"], row["v_filled"], row["harmonic_scaled"], est)
    ]


def test_kcenter_greedy_semantics(spark):
    """kcenter_greedy (r16): on a crafted corpus the maximin picks are
    checkable by hand — seed = min id, then always the point FARTHEST
    from its nearest selected center, ties to the smaller id; NULL and
    ragged vectors are dropped (valid_vectors); already-picked ids are
    never re-picked even when every remaining point coincides with a
    center (degenerate corpus)."""
    from flink_cdc_multi_spark.operators.similarity import kcenter_greedy

    dim = 4

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (dim - len(xs))

    rows = [
        (1, v(0)),          # seed (min id), at origin
        (2, v(10)),         # farthest from origin -> pick 2
        (3, v(5)),          # midpoint: min-dist 5^2*2^40 to either
        (4, v(0.001)),      # near origin
        (5, None),          # dropped
        (6, [0.0, 0.0]),    # ragged: dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    picks = kcenter_greedy(df, k=4, dim=dim)
    ids = [p for p, _ in picks]
    assert ids == [1, 2, 3, 4]
    g = 1 << 20
    assert picks[0][1] == 0
    assert picks[1][1] == (10 * g) ** 2          # 2 vs seed
    assert picks[2][1] == (5 * g) ** 2           # 3 vs nearer of {0,10}
    assert picks[3][1] == int(0.001 * g) ** 2    # 4 vs origin (floor grid)

    # degenerate: all points identical -> k picks truncate to the corpus,
    # later picks have dist 0, no id repeats
    dup = spark.createDataFrame(
        [(i, v(1)) for i in range(3)], "vec_id long, embedding array<float>"
    )
    picks2 = kcenter_greedy(dup, k=5, dim=dim)
    assert [p for p, _ in picks2] == [0, 1, 2]
    assert [d for _, d in picks2] == [0, 0, 0]


def test_kcenter_local_fast_path_matches_distributed(spark):
    """r17 optimization round: kcenter_greedy's small-corpus driver-local
    fast path (default local_max gate) must pick BIT-IDENTICAL
    (id, dist) sequences to the distributed k-round mapInPandas path
    (forced with local_max=0) — including max-distance ties resolved to
    the smaller id, duplicate grid points, excluded already-picked ids,
    and the corpus-exhausted truncation."""
    from flink_cdc_multi_spark.operators.similarity import kcenter_greedy

    dim = 4

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (dim - len(xs))

    rows = (
        # symmetric tie pair (±7) equidistant from the origin seed,
        # duplicate grid points (two copies of v(3)), near-grid values
        # exercising the floor, and a dropped NULL
        [(1, v(0)), (2, v(7)), (3, v(-7)), (4, v(3)), (5, v(3)),
         (6, v(0.0000057)), (7, None)]
        + [(10 + i, v(i % 5, (i * 3) % 7)) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for k in (1, 3, 8, 60):  # 60 > corpus: exhaustion truncates both
        local = kcenter_greedy(df, k=k, dim=dim)
        dist = kcenter_greedy(df, k=k, dim=dim, local_max=0)
        assert local == dist, f"k={k}: {local} != {dist}"


def test_ivf_fused_matches_unfused(spark):
    """r17 optimization round: ivf_topk_fixed's fused one-pass kernel
    (plan-time query collect + in-kernel cells/mask/cosine with
    left-to-right fold arithmetic) must return EXACTLY the rows of the
    unfused two-kernel + broadcast-join form — including zero-norm
    corpus rows dropped where try_divide yields NULL, a zero-norm query
    yielding no rows, ragged/NULL vectors dropped by valid_vectors,
    equidistant-centroid ties breaking to the lower cid, and cosine
    ties breaking to the lower nid (duplicate corpus vectors)."""
    from flink_cdc_multi_spark.operators.similarity import ivf_topk_fixed

    dim = 4

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (dim - len(xs))

    corpus_rows = (
        [(20, v(1)), (21, v(0, 1)), (22, v(-1)), (23, v(0, -1))]  # centroids
        + [(30, v(0.9, 0.1)), (31, v(0.9, 0.1)),   # duplicates: nid tie
           (32, v(0)),                             # zero-norm: drops
           (33, v(0.5, 0.5)),                      # equidistant cells
           (34, None), (35, v(1, 2, 3, 4, 5))]     # NULL / ragged: drop
        + [(40 + i, v((i % 7) - 3, (i % 5) - 2)) for i in range(30)]
    )
    query_rows = [(1, v(1, 0.01)), (2, v(0)), (3, v(-0.5, -0.5)),
                  (4, None), (5, [1.0, 2.0, 3.0])]  # genuinely ragged
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        query_rows, "vec_id long, embedding array<float>")
    centroids = corpus.filter("vec_id < 24")
    for k, n_probe in ((3, 2), (5, 4)):
        a = sorted(map(tuple, ivf_topk_fixed(
            corpus, queries, centroids, k=k, n_probe=n_probe,
            fused=False).collect()))
        b = sorted(map(tuple, ivf_topk_fixed(
            corpus, queries, centroids, k=k, n_probe=n_probe,
            fused=True).collect()))
        assert a == b and len(b) > 0, f"k={k} n_probe={n_probe}: {a} != {b}"
    # all-hostile query set: fused returns an empty typed frame, not a
    # plan-time stack error (the brute_force_topk ADVICE r12 contract)
    hostile = queries.filter("vec_id >= 4")
    out = ivf_topk_fixed(corpus, hostile, centroids, k=3, fused=True)
    assert out.collect() == [] and [f.name for f in out.schema.fields] == [
        "qid", "rank", "nid"]


def test_lsh_fused_matches_unfused(spark):
    """r17 optimization round, the lsh_topk twin of
    test_ivf_fused_matches_unfused: the fused one-pass kernel (plan-time
    query collect + driver-side bucket/probe sets + in-kernel sig/mask/
    cosine) must return EXACTLY the rows of the unfused sig-join +
    dropDuplicates form — multiprobe membership dedup included — on the
    same hostile shapes (zero-norm both sides, ragged, NULL, duplicate
    corpus vectors for the nid tie), for both multiprobe settings."""
    from flink_cdc_multi_spark.operators.similarity import lsh_topk

    dim = 4

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (dim - len(xs))

    corpus_rows = (
        [(30, v(0.9, 0.1)), (31, v(0.9, 0.1)),   # duplicates: nid tie
         (32, v(0)),                             # zero-norm: drops
         (34, None), (35, [1.0, 2.0, 3.0, 4.0, 5.0])]  # NULL/ragged drop
        + [(40 + i, v((i % 7) - 3, (i % 5) - 2, (i % 3) - 1))
           for i in range(40)]
    )
    query_rows = [(1, v(1, 0.01)), (2, v(0)), (3, v(-0.5, -0.5, 0.25)),
                  (4, None), (5, [1.0, 2.0, 3.0])]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        query_rows, "vec_id long, embedding array<float>")
    for multiprobe in (True, False):
        a = sorted(map(tuple, lsh_topk(
            corpus, queries, dim=dim, k=3, n_planes=6,
            multiprobe=multiprobe, fused=False).collect()))
        b = sorted(map(tuple, lsh_topk(
            corpus, queries, dim=dim, k=3, n_planes=6,
            multiprobe=multiprobe, fused=True).collect()))
        assert a == b and len(b) > 0, f"multiprobe={multiprobe}: {a} != {b}"
    # all-hostile query set → empty typed frame at plan time
    hostile = queries.filter("vec_id >= 4")
    out = lsh_topk(corpus, hostile, dim=dim, k=3, n_planes=6, fused=True)
    assert out.collect() == [] and [f.name for f in out.schema.fields] == [
        "qid", "rank", "nid"]


def test_hll_xxhash_fast_path(spark, tmp_path):
    """hll_sketch_over (r16): one JVM xxhash64 call replaces md5 +
    base-16 conv (the two measured sf10 scan walls). On the
    2000-distinct corpus the estimate must land in the ~13% stderr band;
    the plan must contain NO md5/conv, still partial_max, and no
    Expand/Window (the mergeable-sketch shape)."""
    import io
    from contextlib import redirect_stdout

    import pandas as pd

    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.text import tokens
    from flink_cdc_multi_spark.plans.extensions import hll_sketch_over

    texts = [" ".join(f"tok{i}_{j}" for j in range(20)) for i in range(100)]
    pdf = pd.DataFrame(
        {"doc_id": range(100), "text": texts, "lang": ["en"] * 100}
    )
    df = spark.createDataFrame(pdf)
    toks = df.select(
        "lang", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    )
    fast = hll_sketch_over(toks, ["lang"], "t")
    buf = io.StringIO()
    with redirect_stdout(buf):
        fast.explain("formatted")
    plan = buf.getvalue()
    assert "xxhash64" in plan and "md5" not in plan and "conv(" not in plan
    assert "partial_max" in plan
    assert "Expand" not in plan and "Window" not in plan
    row = fast.collect()[0]
    assert row["v_filled"] == 64
    assert abs(row["est_distinct"] - 2000) / 2000 < 0.3, row["est_distinct"]

    # low-cardinality (r16 review finding): with the scale at 2^59,
    # `empties * 2^59` overflowed int64 for any group with >=16 empty
    # registers — the common case — and ANSI mode turns that into a
    # job-killing ArithmeticException. The 55-cap keeps the whole
    # harmonic sum < 2^62.
    few = spark.createDataFrame(
        [(i, "alpha beta gamma", "en") for i in range(50)],
        "doc_id long, text string, lang string",
    )
    ftoks = few.select(
        "lang", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    )
    frow = hll_sketch_over(ftoks, ["lang"], "t").collect()[0]
    assert frow["v_filled"] == 3
    assert 2 <= frow["est_distinct"] <= 5  # LC branch, 3 exact


def test_hll_sketch_over_drops_null_values(spark):
    """r16 review: unfiltered, xxhash64 silently counted NULL as a
    distinct value. NULL is not a value: the sketch must be that of the
    non-null values only."""
    from flink_cdc_multi_spark.plans.extensions import hll_sketch_over

    df = spark.createDataFrame(
        [("en", "a"), ("en", None), ("en", "b")], "lang string, t string"
    )
    row = hll_sketch_over(df, ["lang"], "t").collect()[0]
    assert row["v_filled"] == 2, row
    assert row["est_distinct"] == 2, row


def test_cms_estimate_dominates_truth(spark):
    """ext_sketch_cms (r16): the count-min one-sided guarantee — every
    point estimate is >= the token's true occurrence count (min over d
    rows of cell sums can only over-count via collisions, never under).
    At gate SF most estimates should be exact (vocab << d*w cells)."""
    from flink_cdc_multi_spark.plans.extensions import ext_sketch_cms
    from flink_cdc_multi_spark.plans.queries import load_table
    from flink_cdc_multi_spark.operators.text import tokens

    sf = "/root/testdata/sf0.001"
    est = {r["token"]: r["est_count"]
           for r in ext_sketch_cms(spark, sf).collect()}
    docs = load_table(spark, sf, "documents").filter(F.trim("text") != "")
    truth = {
        r["token"]: r["n"]
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token").agg(F.count("*").alias("n"))
        .collect()
        if r["token"] in est
    }
    assert est and set(est) == set(truth)
    assert all(est[t] >= truth[t] for t in truth), {
        t: (est[t], truth[t]) for t in truth if est[t] < truth[t]
    }
    exact = sum(est[t] == truth[t] for t in truth)
    assert exact >= len(truth) * 0.8  # collisions are rare at d*w=1024


def test_own_index_dirs_removed_at_exit(tmp_path):
    """A per-process index artifact dir (fcm_annidx_<pid>_*) is removed when
    the process that built it exits; another process's dir is left alone.
    Spark-free: the build path only marks the dir, the exit hook removes it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    other = tmp_path / "fcm_annidx_1_keep"
    other.mkdir()
    code = (
        "import os, sys, tempfile\n"
        f"sys.path.insert(0, {root!r})\n"
        "import flink_cdc_multi_spark.plans.extensions as E\n"
        "p = E._own_tmp_dir(os.path.join(tempfile.gettempdir(),"
        " f'fcm_annidx_{os.getpid()}_t'))\n"
        "os.makedirs(os.path.join(p, 'cells'))\n"
        "print(p)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    built = r.stdout.strip().splitlines()[-1]
    assert built.startswith(str(tmp_path)) and "fcm_annidx_" in built
    assert not os.path.exists(built)
    assert other.is_dir()
