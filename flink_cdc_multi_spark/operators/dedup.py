"""Deduplication operators for training-data pipelines (SURVEY.md §2.11):
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design notes (100 TB):
- Exact dedup groups on a 128-bit digest of the content, never on the raw
  text — the shuffle moves 16-byte keys, not documents.
- MinHash/LSH follows the standard shingle → K minhashes → B bands →
  bucket-join pipeline; candidate generation is an equi-join on
  (band_index, band_hash), so Catalyst shuffles both sides on a compact key
  and skew from hot buckets is handled by AQE.
- SimHash pairs come from the pigeonhole block trick (hamming ≤ d ⇒ at
  least one of d+1 blocks equal), turning an O(n²) hamming search into an
  equi-join + cheap verify with ``bit_count(a ^ b)``.
- Everything is built-in Column expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_multi_spark.operators.text import token_barrier, tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    keep: str = "min",
    order_by=None,
) -> DataFrame:
    """Keep one representative per distinct content — by min/max id, or by
    an arbitrary ``order_by`` Column (e.g. a (source-priority, id) struct
    for the prefer-curated-source rule). Returns the full rows of the
    representatives.

    Shape: ``groupBy(digest).agg(min_by(struct(*), id))`` — a partial+final
    aggregate reduction, NOT a row_number window. The partial agg collapses
    hot digests map-side (each input partition forwards ONE candidate row
    per digest), so a pathological key — billions of copies of the empty
    document at 100 TB — costs each scan task O(1) state and the shuffle
    carries one row per (partition, digest). A window would shuffle+sort
    every copy of the hot digest into a single task. Pinned by
    ``test_plan_quality.py::test_ext_dedup_exact_is_reduction_not_window``.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    pick = F.min_by if keep == "min" else F.max_by
    order = order_by if order_by is not None else F.col(id_col)
    return (
        df.groupBy(digest.alias("__digest"))
        .agg(pick(F.struct(*df.columns), order).alias("__rep"))
        # min_by/max_by ignore NULL-order rows, so a group whose order
        # keys are ALL NULL has no representative — drop it rather than
        # emit an all-NULL row (contract: rows with a NULL order key are
        # never chosen; struct-valued order_by keys are never NULL)
        .where(F.col("__rep").isNotNull())
        .select("__rep.*")
    )


# ---------------------------------------------------------------------------
# word n-gram shingles + Jaccard
# ---------------------------------------------------------------------------


def _shingles_of(toks, n: int):
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column (same zip_with recipe as _shingle_array). Do not inline
    ``tokens(text)`` here: the expression is referenced n+2 times by the
    shifted slices, so an inlined split would re-run per reference
    (historically O(tokens²) when it sat inside the transform lambda —
    measured 6 s vs 0.3 s on 300 sf0.1 docs)."""
    return F.array_distinct(_shingle_array(n, toks))


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (small-input /
    expression-API form; the operator pipelines below materialize tokens
    first — see _shingles_of)."""
    return _shingles_of(tokens(text_col), n)


# tokenize-once Generate barrier lives in operators.text (token_barrier);
# all shingle builders below consume it
_token_barrier = token_barrier


def _shingle_array(n: int, toks=None):
    """Positional n-gram shingle array (duplicates kept, document order)
    over a materialized ``toks`` column (or an explicit token-array
    expression via ``toks`` — expression-API callers only; the
    pipelines below always pass a materialized column). Short docs (< n tokens)
    contribute one whole-text shingle; empty text the empty-string
    shingle, matching DuckDB's regexp_split_to_array('') = [''].

    Built as (n-1) nested zip_withs over n shifted slices of ``toks``
    (r10), not transform(sequence, i -> concat_ws(slice(toks, i, n))):
    higher-order lambdas are INTERPRETED per element, so the per-element
    body must be minimal — the old form allocated an n-element slice and
    ran concat_ws for every shingle (sf10: 50M interpreted slice+concat_ws
    = the dominant cost of every shingle consumer); this form pays n
    array slices per DOCUMENT and a single two-arg concat per element
    (repetition 7.5 s → 3.4 s at sf10, same shingle strings
    byte-for-byte)."""
    t = F.col("toks") if toks is None else toks
    n_sh = F.size(t) - (n - 1)

    def shifted(k):  # tokens k..k+n_sh-1 (1-based slice)
        return F.slice(t, k + 1, n_sh)

    acc = shifted(n - 1)
    for k in range(n - 2, -1, -1):
        acc = F.zip_with(shifted(k), acc,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(
        F.size(t) < n, F.array(F.concat_ws(" ", t))
    ).otherwise(acc)


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) rows — every positional n-gram shingle per doc,
    DUPLICATES KEPT (the multiset form; distinct is layered on by
    shingle_exploded).

    Shingling is DOC-LOCAL (r6): tokenize once behind the _token_barrier
    Generate, build the shingle array with one linear lambda pass, and
    explode — a pure scan-side pipeline with ZERO shuffles. The previous
    shape (posexplode tokens + per-doc window lead) paid a full shuffle +
    sort of the token stream before any consumer did its own work: at
    sf10 that window build alone was 4.1 s of ext_text_repetition's 8.9 s;
    the barrier form computes the same 26M shingles in 0.3 s. (The window
    form itself existed to dodge the lambda-re-inlines-the-tokenizer trap
    — the barrier dodges it without the shuffle; see _token_barrier.)"""
    tok = _token_barrier(df, id_col, text_col)
    return tok.select("id", F.explode(_shingle_array(n)).alias("shingle"))


def shingle_exploded(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle, n_sh) rows — DISTINCT n-gram shingles per doc, with
    the per-doc distinct count alongside. Doc-local like shingle_rows:
    array_distinct + size replace what used to be a distinct SHUFFLE plus
    a count WINDOW over the exploded stream."""
    tok = _token_barrier(df, id_col, text_col)
    # second Generate barrier: _sh is referenced twice below (explode +
    # size); without the barrier CollapseProject would duplicate the
    # whole array_distinct(transform(...)) tree into both expressions
    arr = tok.select(
        "id", F.explode(F.array(F.array_distinct(_shingle_array(n)))).alias("_sh")
    )
    return arr.select(
        "id", F.explode("_sh").alias("shingle"), F.size("_sh").alias("n_sh")
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): total vs
    distinct n-gram shingles per doc. A doc whose n_distinct is far below
    n_shingles is template/boilerplate-heavy and a common pre-training
    drop. Output (doc_id, n_shingles, n_distinct) — exact integers, the
    ratio is left to the consumer (oracle-parity rule: never emit rounded
    doubles).

    Scale (r6): fully DOC-LOCAL — shingle array behind the tokenize
    barrier, counts from size/array_distinct per row. No explode, no
    groupBy, no shuffle at all: the operator is a projection over the
    pruned scan. (History: the exploded groupBy + count_distinct form
    cost 8.9 s at sf10.) The distinct count is over the RAW shingle
    strings (r10): a doc-local distinct has no shuffle to compact, so a
    hash buys nothing — and the previous md5-hash60 lived inside a
    transform() lambda, which Spark interprets PER ELEMENT (no codegen,
    no CSE): 50M interpreted md5+hex+conv at sf10 measured 25.7 s vs
    1.6 s for this form. String equality is byte-identical in both
    engines, so the DuckDB oracle moved to list_distinct(sh) in the
    same commit (the move-together rule; contamination KEEPS md5-hash60
    — there the hash is the 8-byte join key, i.e. load-bearing).

    The shingle array goes through its own Generate barrier: size(sh)
    and array_distinct(sh) are two consumers, and CollapseProject would
    otherwise re-inline the transform-lambda shingle build into BOTH
    (no CSE across lambda boundaries) — building every shingle twice."""
    tok = _token_barrier(df, id_col, text_col)
    shb = tok.select(
        "id", F.explode(F.array(_shingle_array(n))).alias("sh")
    )
    return shb.select(
        F.col("id").alias(id_col),
        F.size("sh").cast("bigint").alias("n_shingles"),
        F.size(F.array_distinct("sh")).cast("bigint").alias("n_distinct"),
    )


class QuadraticScopeError(ValueError):
    """An exact pair operator was handed an unscoped input big enough that
    its worst case is an all-pairs blowup. The caller must either scope the
    input (id-prefix / partition slice) or use the bucketed scale twin."""


def _guard_pairs_input(df: DataFrame, max_rows: int | None, op: str, scale_twin: str) -> None:
    """Refuse unscoped input above max_rows. The check is a limit(n+1)
    count — an early-abort scan, not a full pass; pass max_rows=None for a
    deliberate (e.g. in-bucket verifier) override."""
    if max_rows is None:
        return
    if df.limit(max_rows + 1).count() > max_rows:
        raise QuadraticScopeError(
            f"{op} is an exact verify operator (worst case all-pairs); input "
            f"exceeds max_rows={max_rows}. Scope the input, raise/None the "
            f"limit deliberately, or use the scale path: {scale_twin}"
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: candidate pairs share ≥1
    shingle (equi-join on the shingle), intersection counted by the join,
    union from per-doc distinct-shingle counts. Output: (a_id, b_id,
    jaccard) with a_id < b_id, jaccard rounded to 4dp.

    Guarded: the shingle equi-join degenerates toward all-pairs on
    near-duplicate-heavy corpora, so unscoped inputs above ``max_rows``
    docs are refused (scale path: minhash_lsh_pairs)."""
    _guard_pairs_input(df, max_rows, "ngram_jaccard_pairs", "minhash_lsh_pairs")
    sh = shingle_exploded(df, id_col, text_col, n)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4)
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """K minhashes per document: h_k(doc) = min over shingles of
    xxhash64(k, shingle). One explode + one groupBy with K min-aggregates —
    map-side partial aggregation keeps the shuffle at K longs per doc.
    Uses the MULTISET shingle rows (min is idempotent over duplicates, so
    the set/multiset results are identical) — skipping shingle_exploded's
    distinct exchange and n_sh window saves two shuffles."""
    sh = shingle_rows(df, id_col, text_col, shingle_n).select(
        "id", F.col("shingle").alias("s")
    )
    aggs = [
        F.min(F.xxhash64(F.lit(k), F.col("s"))).alias(f"h{k}") for k in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded LSH over minhash signatures, verified by
    signature-estimated Jaccard (fraction of agreeing minhashes ≥ threshold).
    Output: (a_id, b_id, est_jaccard).

    Scale: FUSED band join (see _banded_pairs_fused), switched from the
    compact bucket-hash form in r10 on the sf10 dup-heavy measurement
    (500k docs, 100-copy cliques, identical 27.31M pairs, same session):
    fused 68.0 s warm / 69.0 s cold vs compact 98.0 s warm / 192.8 s
    cold. The compact form's pair-key dropDuplicates exchange is the
    same hot-clique skew wall that cost simhash 73× — a d-copy clique
    concentrates bands×C(d,2) candidate rows on hot pair keys. Fused
    pays ~(num_hashes×8×bands) bytes/doc through ONE exchange instead
    (≈8 KB/doc at 64×16), which loses only a constant factor at LOW dup
    density (sf1 10-cliques: 7.4 s vs 5.4 s, PERF.md r9) but never hits
    a wall; dedup at scale is run precisely because dup density is high,
    so the hot-clique regime is the one the operator must survive."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    cand = _banded_pairs_fused(sig, bands, rows_per_band)
    agree = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m)
    )
    est = F.round(agree / F.lit(num_hashes), 4)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("a_id", "b_id", "est_jaccard")
    )


def _banded_pairs_fused(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Candidate pairs from a (id, sig) frame via banded LSH with FUSED
    pair-dedup (r9, VERDICT item 4): the band explode carries the
    signature, the self-join keys directly on the band SLICE (candidate ⇔
    an identical band slice — the LSH banding definition itself; no
    bucket hash, so no 60-bit-collision false candidates), and each pair
    is emitted exactly ONCE by keeping only the row whose band is the
    FIRST band where the slices agree — a row-local filter over the two
    carried signatures. This removes the compact form's three post-join
    exchanges (pair dropDuplicates + two signature re-attach joins): the
    whole pipeline is sig-groupBy → one slice-keyed self-join → filter.

    Trade-off vs the retired compact form (bucket-hash join + pair
    dropDuplicates + two signature re-attach joins, removed r10): the
    banded shuffle here carries K longs per (doc, band) instead of
    20 bytes, i.e. ~(K×8×bands) bytes per doc through one exchange,
    against the compact form's three extra exchanges of pair- and
    doc-sized frames. For small signatures (16×4 = 512 B/doc) fused wins
    on both bytes in flight and stage count; for wide signatures (64×16
    = 8 KB/doc) compact moves fewer bytes at LOW dup density (sf1: 5.4 s
    vs fused 7.4 s) but its pair-key dedup exchange is a hot-clique skew
    wall — sf10 100-copy cliques measured compact 98.0 s warm / 192.8 s
    cold vs fused 68.0/69.0 s at identical 27.31M pairs (PERF.md r10),
    the same wall that cost simhash 73×. Every LSH pair path (minhash
    md5 + xxhash64, simhash md5 + xxhash64) therefore uses this form.

    Output: (a_id, b_id, sa, sb)."""
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = sig.select("id", "sig", band_idx).select(
        "id",
        "sig",
        "band",
        F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band).alias("bslice"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    # first band (0-based) where the two signatures' slices agree — the
    # emit-once condition. Built as a flat when-chain over the (small,
    # Python-side) band count, NOT a transform/zip_with fold: higher-order
    # array lambdas run interpreted per element (PERF.md lesson) and this
    # predicate evaluates on EVERY joined row, pre-dedup.
    def _slice_eq(j):
        lo = j * rows_per_band + 1
        return F.slice(F.col("sa"), lo, rows_per_band) == F.slice(
            F.col("sb"), lo, rows_per_band
        )

    first_eq = F.lit(bands)  # sentinel; unreachable for joined rows
    for j in range(bands - 1, -1, -1):
        first_eq = F.when(_slice_eq(j), F.lit(j)).otherwise(first_eq)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bslice") == F.col("b.bslice"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
            F.col("a.band").alias("band"),
        )
        .filter(F.col("band") == first_eq)
        .drop("band")
    )


def _md5_hash60(col) -> "F.Column":
    """Portable 60-bit hash: first 15 hex chars of md5 → bigint. Identical
    in Spark (conv base16→10) and DuckDB (('0x'||hex)::BIGINT); 60 bits
    stays exact inside a signed 64-bit in both engines. Slower than
    xxhash64 (md5 + string conv) — used by the *_md5 oracle-verifiable
    variants; the xxhash64 variants are the fast path."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures_md5_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Wide engine-portable MinHash signatures (id, h0..h{K-1}) in ONE
    groupBy: h_k(doc) = min over shingles of md5-hash60(k || ':' ||
    shingle) — value contract identical to the long form. The K hashes
    are K min-aggregate INPUT expressions over the shingle rows instead
    of a K-way row explode (r7, VERDICT item 3): same md5 count, but the
    16× row fan-out, its groupBy(id, k) exchange, and the second pivot
    exchange all drop out. Multiset shingle rows — min is
    duplicate-insensitive."""
    sh = shingle_rows(df, id_col, text_col, shingle_n).select(
        "id", F.col("shingle").alias("s")
    )
    aggs = [
        F.min(_md5_hash60(F.concat_ws(":", F.lit(str(k)), F.col("s")))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Engine-portable MinHash in LONG form (id, k, minhash) so the DuckDB
    oracle can reproduce it row for row — a stack() unpivot over the
    one-shuffle wide build (minhash_signatures_md5_wide)."""
    wide = minhash_signatures_md5_wide(df, id_col, text_col, num_hashes, shingle_n)
    stack_args = ", ".join(f"{k}, h{k}" for k in range(num_hashes))
    return wide.select(
        "id", F.expr(f"stack({num_hashes}, {stack_args}) as (k, minhash)")
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_agree: int | None = None,
) -> DataFrame:
    """Engine-portable banded LSH over the md5-hash60 MinHash signatures:
    the same shingle→minhash→band→bucket-join pipeline as
    minhash_lsh_pairs, but every hash is md5-derived so a DuckDB oracle
    reproduces the PAIR OUTPUT exactly (the xxhash64 form is the fast
    path; this form is the cross-engine proof of the banding itself).
    Band bucket = md5-hash60 of the comma-joined band values; agreement
    is reported as the exact integer count of matching minhashes
    (default threshold: half, i.e. est. jaccard >= 0.5).
    Output: (a_id, b_id, n_agree).

    Scale shape: K min-aggs per doc in ONE groupBy
    (minhash_signatures_md5_wide), then the FUSED banded self-join
    (_banded_pairs_fused): one slice-keyed exchange, pair-dedup as a
    row-local first-equal-band filter, no re-attach joins. At this
    signature width (16 longs) the fused form both moves fewer bytes and
    runs 3 fewer exchanges than the compact bucket-join form (sf10
    measurement in PERF.md r9); the 64-hash fast path keeps the compact
    form. Candidates are defined by slice EQUALITY (not a 60-bit bucket
    hash), which the DuckDB oracle mirrors with list equality — never
    all-pairs either way."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    if min_agree is None:
        min_agree = num_hashes // 2
    wide = minhash_signatures_md5_wide(df, id_col, text_col, num_hashes, shingle_n)
    sig = wide.select(
        "id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig")
    )
    cand = _banded_pairs_fused(sig, bands, rows_per_band)
    agree = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m)
    ).cast("long")
    return (
        cand.withColumn("n_agree", agree)
        .filter(F.col("n_agree") >= min_agree)
        .select("a_id", "b_id", "n_agree")
    )


def _pigeonhole_pairs_fused(sig: DataFrame, blocks: int, width: int) -> DataFrame:
    """Candidate pairs from a (id, simhash) frame via the pigeonhole block
    self-join with FUSED pair-dedup (r10, the _banded_pairs_fused recipe
    applied to SimHash): each pair is emitted exactly once by keeping only
    the row whose block is the FIRST block where the two simhashes' block
    values agree — a row-local when-chain over the two carried 8-byte
    hashes, replacing the compact form's dropDuplicates exchange.

    Unlike the minhash fusion there is NO byte trade-off to weigh: the
    compact block join already carried both simhashes through the join
    (the hamming verify needs them), so fusing strictly deletes one
    pair-stream shuffle. That exchange is also where duplicate-clique
    skew bit hardest: a clique of d identical docs emits blocks×C(d,2)
    candidate rows into ONE (a_id,b_id)-keyed dedup — measured at sf10
    (100-dup cliques, 500k docs) in PERF.md r10. Output:
    (a_id, b_id, ha, hb)."""
    blk = sig.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
    ).withColumn(
        # shiftrightunsigned only takes a literal bit count in the Python
        # API; the SQL form accepts a column expression
        "blk_val",
        F.expr(f"shiftrightunsigned(simhash, blk * {width}) & {(1 << width) - 1}"),
    )
    a, b = blk.alias("a"), blk.alias("b")

    def _blk_eq(j):
        mask = (1 << width) - 1
        return F.expr(
            f"(shiftrightunsigned(ha, {j * width}) & {mask}) = "
            f"(shiftrightunsigned(hb, {j * width}) & {mask})"
        )

    first_eq = F.lit(blocks)  # sentinel; unreachable for joined rows
    for j in range(blocks - 1, -1, -1):
        first_eq = F.when(_blk_eq(j), F.lit(j)).otherwise(first_eq)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
            F.col("a.blk").alias("blk"),
        )
        .filter(F.col("blk") == first_eq)
        .drop("blk")
    )


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 60,
) -> DataFrame:
    """Engine-portable pigeonhole pair join over the 60-bit md5 SimHash:
    fused block join (_pigeonhole_pairs_fused) + bit_count verify, with
    md5-derived token hashes so a DuckDB oracle reproduces the PAIR
    OUTPUT exactly. Output: (a_id, b_id, hamming)."""
    assert blocks > max_hamming, "need more blocks than allowed bit-errors"
    width = bits // blocks
    sig = simhash_md5(df, id_col, text_col, bits)
    cand = _pigeonhole_pairs_fused(sig, blocks, width)
    hamming = F.bit_count(F.expr("ha ^ hb")).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_md5(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """Engine-portable SimHash over md5-hash60 of each token (term
    frequency weighted — tokens are NOT deduplicated, matching the
    classical definition). Docs with no tokens drop out (explode of an
    empty array)."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", _md5_hash60(F.col("t")))
    bit = lambda b: F.shiftright("h", b).bitwiseAND(F.lit(1))
    aggs = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"b{b}") for b in range(bits)
    ]
    per_bit = tok.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(0)
        )
    return per_bit.select("id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit b is 1 iff the sum over
    tokens of ±1 (sign = bit b of xxhash64(token)) is positive. Explode +
    one groupBy with per-bit conditional sums — all JVM-side."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    bit = lambda b: F.shiftright("h", b).bitwiseAND(F.lit(1))
    aggs = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"b{b}") for b in range(bits)
    ]
    per_bit = tok.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(0)
        )
    return per_bit.select("id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via the pigeonhole block
    join: split 64 bits into `blocks` blocks (blocks > max_hamming ⇒ any
    qualifying pair agrees on ≥1 whole block). Fused emit-once join
    (_pigeonhole_pairs_fused), verify with bit_count(xor).
    Output: (a_id, b_id, hamming)."""
    assert blocks > max_hamming, "need more blocks than allowed bit-errors"
    width = 64 // blocks
    sig = simhash(df, id_col, text_col)
    cand = _pigeonhole_pairs_fused(sig, blocks, width)
    hamming = F.bit_count(F.expr("ha ^ hb"))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_sim(a, b):
    """Cosine similarity of two array<double> columns, left-to-right fold —
    bit-identical to the DuckDB oracle's evaluation order."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    # try_divide: a zero-norm vector yields NULL (not an ANSI
    # DIVIDE_BY_ZERO error), matching DuckDB's x/0 → NULL — the pair is
    # dropped by any `>= threshold` filter in both engines, and the numpy
    # LSH verify kernel drops the same pair via IEEE NaN-compare.
    return F.try_divide(dot, na * nb)


def _gram_hits(mat, threshold: float):
    """The ONE blocked-Gram cosine kernel behind every embedding near-dup
    consumer (pair emit AND SemDeDup's kept-flag reduce): yields
    (bi, bj) global row-index pairs with cos >= threshold, row-blocked
    so a hot bucket never materializes n² floats at once. Zero-norm
    semantics, pinned across all paths: a pair involving a zero vector
    has cosine 0/0 → NaN here, NULL in DuckDB (x/0 → NULL) and in the
    Spark fold form (try_divide) — numpy's IEEE NaN-compare (False)
    drops it identically. Self-pairs (bi == bj) ARE yielded; consumers
    filter by their own rule."""
    import numpy as np

    nrm = np.sqrt((mat * mat).sum(axis=1))
    for lo in range(0, mat.shape[0], 4096):
        hi = min(lo + 4096, mat.shape[0])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (mat[lo:hi] @ mat.T) / np.outer(nrm[lo:hi], nrm)
        bi, bj = np.nonzero(cos >= threshold)
        yield bi + lo, bj


def _gram_verify_fn(threshold: float):
    """Per-bucket vectorized cosine verify: one float64 matmul scores
    every pair in the bucket (via _gram_hits — the shared kernel behind
    BOTH embedding near-dup paths and semantic_dedup). The earlier
    self-join + per-pair zip_with/aggregate fold ran the 64-term dot
    INTERPRETED per candidate (PERF.md HOF lesson) — 26.5 s at sf1; this
    kernel is 1 BLAS call per row block. Expects columns (id, v); emits
    (a_id, b_id)."""
    import numpy as np
    import pandas as pd

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        out_a, out_b = [], []
        for bi, bj in _gram_hits(mat, threshold):
            keep = bi < bj  # each unordered pair once, no self-pairs
            out_a.append(ids[bi[keep]])
            out_b.append(ids[bj[keep]])
        a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
        b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
        return pd.DataFrame({"a_id": np.minimum(a, b), "b_id": np.maximum(a, b)})

    return verify


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Scale path for embedding near-dup: hyperplane-LSH signatures (the
    portable md5-parity planes, operators/similarity.md5_sign_matrix)
    bucket the vectors; exact cosine verification runs only within buckets
    (high cosine ⇒ same signature with high probability; n_planes trades
    recall for candidate volume). Candidates join on a long key; the
    quadratic verify is per-bucket, not global. Buckets are the unit of
    parallelism; at scale, raise n_planes to keep buckets bounded
    (candidate volume ~ sum of bucket²)."""
    from flink_cdc_multi_spark.operators.similarity import (
        hyperplane_signature,
        valid_vectors,
    )

    sig = hyperplane_signature(
        valid_vectors(df, dim, vec_col), dim, n_planes, id_col, vec_col
    )
    return (
        sig.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            "bucket",
        )
        .groupBy("bucket")
        .applyInPandas(_gram_verify_fn(threshold), "a_id bigint, b_id bigint")
    )


# NOTE(perf, measured): do NOT "optimize" the dot-product fold into a flat
# 64-term element_at expression — the giant expression tree exceeds the
# codegen method-size limit, whole-stage codegen bails out for the entire
# projection, and the pair join gets ~4× SLOWER (10 s → 37 s at sf0.1).
# The aggregate/zip_with fold is the right JVM-side shape; the order-of-
# magnitude path for huge pair counts is numpy scoring inside LSH/IVF
# buckets (operators/similarity.py), not a bigger expression.


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,  # reserved; see perf note above
    max_rows: int | None = 10_000,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold. Quadratic BY CONTRACT — a verify
    pass for scoped slices and in-bucket candidates; unscoped inputs above
    ``max_rows`` are refused (10k rows is already 5·10⁷ pairs). The scale
    path is embedding_neardup_pairs_lsh, which buckets first and verifies
    per bucket.

    The scoring runs through the SAME numpy Gram kernel as the LSH path
    (one pseudo-bucket): the earlier BroadcastNestedLoop self-join scored
    each pair with an interpreted zip_with/aggregate fold — 5.9 s for 1000
    vectors at sf0.1 vs one BLAS matmul here. Zero-norm pairs drop via
    IEEE NaN-compare, identical to try_divide-NULL and DuckDB x/0-NULL
    (see _gram_verify_fn)."""
    _guard_pairs_input(
        df, max_rows, "embedding_neardup_pairs", "embedding_neardup_pairs_lsh"
    )
    # NULL vectors can't be near-dups and would kill the numpy stack
    # (r11 hardening; the LSH path enforces the dimension too)
    df = df.filter(F.col(vec_col).isNotNull())
    if dim is not None:
        df = df.filter(F.size(F.col(vec_col)) == dim)
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.lit(0).alias("bucket"),
    )
    return v.groupBy("bucket").applyInPandas(
        _gram_verify_fn(threshold), "a_id bigint, b_id bigint"
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame | None,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    trained_centroids=None,
) -> DataFrame:
    """SemDeDup-shape semantic deduplication (VERDICT r11 item 3; Abbas
    et al. 2023, arXiv:2303.09540): cluster the corpus with a coarse
    quantizer, find embedding near-dups ONLY within each cluster, keep
    one representative per duplicate neighborhood. Composition of the
    suite's existing primitives:

    - cells: the deterministic integer-quantized coarse assign of
      ivf_topk_fixed (argmin int64 d² to the collected centroids, ties
      to lowest cid — engine-portable, so the oracle replays it);
    - in-cell near-dup: the per-bucket numpy Gram kernel the embedding
      near-dup paths share (one BLAS matmul per cell block);
    - keep-one: a vector is DROPPED iff some SAME-CELL neighbor with a
      LOWER id has cosine >= threshold (the ext_dedup_priority "prefer
      the earlier copy" rule in id space) — greedy per pair, not a
      transitive closure, exactly SemDeDup's keep-one-per-neighborhood.

    Output: (vec_id, cell, kept). Zero-norm vectors are never dropped
    (NaN/NULL cosine fails >= threshold in every engine — the pinned
    zero-norm contract); NULL/ragged vectors are excluded entirely
    (valid_vectors).

    Scale shape: cell assign is row-local (Arrow kernel over broadcast-
    size centroids — the corpus never shuffles for it); the ONLY
    exchange is the hash partition on cell for the grouped Gram kernel,
    and the quadratic is bounded per cell, never global (plan-pinned:
    no join, no cartesian). At 100 TB you raise n_centroids to keep
    cells bounded — same knob as embedding_neardup_pairs_lsh's
    n_planes."""
    import numpy as np
    import pandas as pd

    from flink_cdc_multi_spark.operators.similarity import assign_cells

    with_cell = assign_cells(
        df, centroids, dim, id_col, vec_col, trained_centroids=trained_centroids
    )

    def keep_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        cell = pdf["cell"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        kept = np.ones(len(ids), dtype=bool)
        # the shared blocked-Gram kernel (_gram_hits) — same zero-norm
        # NaN-drop and blocking as the pair paths, one implementation
        for bi, bj in _gram_hits(mat, threshold):
            hit = bi != bj
            # ids are sorted asc, so the larger INDEX is the larger id —
            # the dropped side of each near-dup pair
            kept[np.maximum(bi[hit], bj[hit])] = False
        return pd.DataFrame({"vec_id": ids, "cell": cell, "kept": kept})

    return with_cell.groupBy("cell").applyInPandas(
        keep_one, "vec_id bigint, cell bigint, kept boolean"
    )


def contamination_report(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram shingle with a probe set (eval benchmarks, held-out suites) —
    the standard pre-training hygiene pass. Output one row per
    contaminated doc: (doc_id, n_shared distinct shingles, n_sh total
    distinct shingles in the doc).

    Scale (100 TB corpus vs a benchmark suite of ~1e4-1e6 shingles): the
    probe shingle SET is deduplicated and BROADCAST, so the corpus side
    streams map-side through a LEFT join with a hit marker; both outputs
    (distinct shingles, shared count) come from the two-level compact
    aggregation below. The corpus is never all-pairs'd against the probes
    and never re-shuffled on the raw shingle. Shingling reuses the
    posexplode+lead shape (tokenize once — see shingle_rows' perf note).

    Every wide operation moves the 8-byte xxhash64 of the shingle, not
    the shingle STRING (shuffle-keys-are-compact rule): the r6 sf10
    profile showed a `.distinct()` over (id, shingle-string) rows costing
    7 s to dedupe ~0.1% — pure shuffle-payload overhead. The counts are
    distinct-HASH counts, identical to distinct-shingle counts unless two
    of a doc's shingles collide in 64 bits (engine-identical either way —
    the DuckDB oracle computes the same xxhash64 via the generated XXH64
    chain, the sketch-gate portability pattern). Topology (r6, doc-local
    first): per-doc
    DISTINCT hash arrays are built locally behind the tokenize barrier
    (no distinct shuffle, no window — see shingle_rows), explode to
    16-byte (id, h) rows, map-side broadcast hit-join, then ONE
    partial-aggregated groupBy(id) for both counts. Measured 21.8 s
    (string shuffles) → 9.4 s (compact two-level) → this single-shuffle
    form on 26M shingles at sf10."""

    # xxhash64 is the shingle identity (the transform lambda is
    # interpreted per element — one JVM hash call beats interpreted md5 +
    # substring + base-16 conv; the DuckDB oracle replays it via the
    # generated XXH64 chain per DISTINCT shingle)
    def distinct_hash_rows(d: DataFrame) -> DataFrame:
        tok = _token_barrier(d, id_col, text_col)
        hs = F.array_distinct(F.transform(_shingle_array(n), lambda c: F.xxhash64(c)))
        return tok.select("id", F.explode(hs).alias("h"))

    c = distinct_hash_rows(corpus)
    p = distinct_hash_rows(probes).select("h").distinct().withColumn("__hit", F.lit(1))
    return (
        c.join(F.broadcast(p), "h", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("__hit").alias("n_shared"),  # non-null hits only
            F.count("*").alias("n_sh"),
        )
        .filter(F.col("n_shared") > 0)
        .select(id_col, "n_shared", "n_sh")
    )


def neardup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs: every id gets
    cluster_id = min id reachable through the (undirected) pair graph —
    the step between pair generation and "keep one doc per duplicate
    GROUP" (similarity is not transitive, so groups need closure, not
    just pairs). Singletons cluster to themselves.

    Algorithm: min-label propagation WITH pointer doubling (the
    shortcutting step of the MapReduce CC family — HashToMin /
    large-star-small-star, Vassilvitskii et al.): each round first takes
    the min over graph neighbors' labels, then jumps one hop up the label
    forest (label(v) ← label(label(v))), so label distance-to-root
    roughly DOUBLES per round — O(log diameter) rounds instead of
    O(diameter). Near-dup components are usually shallow hub-and-spoke,
    where both variants take a handful of rounds; the doubling step is
    what keeps adversarial chain-shaped components (diameter ~ n) from
    blowing the round budget — a 1000-node chain converges in ~11 rounds
    (pinned by test_neardup_clusters_chain_path_doubling). Each round is
    two shuffle-by-key joins + a partial-aggregated min; the convergence
    check is a limit(1) existence probe, not a full count. The fixpoint
    is deterministic regardless of iteration order, which is what makes
    the result oracle-checkable against a recursive-CTE reachability
    closure (the combined propagate+shortcut operator has the same
    fixpoint as propagation alone: at the closure, label(label(v)) ==
    label(v) == component min).

    The returned DataFrame is PERSISTED (the loop materialized it for the
    convergence probes — an iterative result is inherently a materialized
    artifact, like a fitted model); callers that are done with it should
    unpersist()."""
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst")).union(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        # every round joins against edges: without this persist each
        # iteration RE-EXECUTES the caller's whole pair-generation plan
        # (at sf10 that's a ~60 s minhash pipeline × rounds — measured
        # 277 s total; persisted, the loop pays it once)
        .persist()
    )
    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    try:
        labels = _cc_fixpoint(edges, labels, max_iter)
    finally:
        # unpersist is idempotent — this also covers Spark errors thrown
        # mid-loop (join/count failure), which previously leaked the
        # cached edges block for the session
        edges.unpersist()
    # persist + materialize the RETURNED plan (not just the loop-internal
    # labels): Spark uncaches by exact plan, so handing back a projection
    # of the cached frame would make the documented caller-side
    # unpersist() a silent no-op and leak the block
    result = labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    ).persist()
    result.count()
    labels.unpersist()
    return result


def _cc_fixpoint(edges: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    """Min-label-propagation + pointer-doubling fixpoint loop; returns the
    converged labels. Split out so the caller can guarantee
    edges.unpersist() in a finally block."""
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        prop = (
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .persist()  # self-joined next; don't recompute the nbr join twice
        )
        # pointer doubling: label(v) ← label(label(v)). label(v) ≤ v by
        # the min invariant and is always reachable from v, so the jump
        # preserves both invariants while doubling distance-to-root.
        lk = prop.select(F.col("id").alias("lid"), F.col("label").alias("llabel"))
        new = (
            prop.join(lk, prop.label == lk.lid, "left")
            .select(
                "id",
                F.coalesce("llabel", "label").alias("label"),
            )
            # eager lineage TRUNCATION, not just caching: an iterative
            # loop that only persists still grows the logical plan by two
            # joins per round, and Catalyst analysis cost on the nested
            # plan dominates wall-clock long before the data does (the
            # GraphX/GraphFrames iteration lesson). localCheckpoint keeps
            # plan depth O(1) per round; on a real cluster prefer
            # checkpoint(dir) if executor loss must be survivable
            # mid-fixpoint.
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        prop.unpersist()
        # old `labels` was a localCheckpoint (or the initial projection):
        # its cached RDD blocks are released by the ContextCleaner once
        # the reference drops — unpersist() is a no-op there by design
        labels = new
        if changed == 0:
            break
    else:
        # never exit with silently-wrong labels: a component whose
        # log-diameter exceeds max_iter would still be mid-propagation
        # here while the caller (and the recursive-CTE oracle) expects
        # the true closure
        labels.unpersist()
        raise RuntimeError(
            f"neardup_clusters did not converge in max_iter={max_iter} "
            "rounds — log2(component diameter) exceeds the bound; raise "
            "max_iter (pointer doubling makes rounds ~ log2(diameter), "
            "so this indicates an extreme graph or a bug)"
        )
    return labels


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Span REMOVAL (r14, VERDICT r13 item 3) — the surgery half of the
    Lee et al. 2022 exact-substring pipeline (arXiv:2107.06499 §3):
    ext_dedup_spans emits the per-doc duplicate-window SIGNAL; this
    operator cuts the duplicated spans OUT of the text. Output one row
    per input doc: (id_col, n_tokens, n_removed, cleaned).

    Contract (mirrored verbatim in the DuckDB oracle):
    - windows are the spans signal's positional n-token windows
      (_shingle_array: duplicates kept; docs with < n tokens contribute
      ONE whole-text window), identified by xxhash64 (the md5-hash60
      form paid md5 + base-16 conv per window, PERF.md "r17
      OPTIMIZATION wave 7") — the contamination hash contract, both
      sides move together;
    - the CANONICAL occurrence of a window is the globally first by
      (doc_id, pos) — min(struct(id, pos)), a partial-agg reduction,
      never a row_number window (the materialization skew rule);
    - every NON-canonical occurrence of a window seen >= 2 times
      corpus-wide marks its covered token positions [pos, pos+wlen-1]
      (wlen = min(n, n_tokens) — the whole-text window covers the whole
      short doc) for removal; overlapping spans union their positions;
    - cleaned = surviving tokens joined by ONE space (tokenization is
      split-on-\\s+ of trim(text), so original whitespace is not
      reconstructable by design — both engines agree);
    - within one doc a repeated window keeps its FIRST occurrence iff no
      earlier doc holds the window; cross-doc, only the earliest doc's
      first occurrence survives.

    Scale shape: the window stream is derived ONCE and repartitioned on
    the 8-byte hash — the frequency aggregate and the join probe both
    consume that single exchange (runtime ReusedExchange; a shape that
    re-derives the whole tokenize+shingle+hash Generate subtree for each
    consumer pays a full corpus pass per re-derivation at 100 TB), the
    canonical-pick agg rides the exchange's partitioning (no second
    window exchange), and the h join is an exchange-free in-partition
    shuffled-hash join (build = the ≤|distinct h| freq side). Then one
    doc-keyed removal-set agg and a doc-local array rebuild — the TEXT
    never shuffles with the windows, only (id, pos, h) triples do, and
    the rebuild's filter lambda runs on the already-materialized token
    array behind the Generate barrier."""
    tok = _token_barrier(
        df.filter(F.col(text_col).isNotNull()), id_col, text_col
    )
    w = (
        tok.select(
            "id",
            F.size("toks").alias("n_toks"),
            F.posexplode(_shingle_array(n)).alias("pos", "s"),
        )
        .select("id", "n_toks", "pos", F.xxhash64(F.col("s")).alias("h"))
        .repartition(F.col("h"))
    )
    # the canonical struct carries n_toks as a THIRD field purely so the
    # freq branch reads every column of w: column pruning would otherwise
    # project n_toks away below the repartition exchange, making the two
    # w subtrees differ and defeating ReuseExchange (verified on the
    # explain: pruned = two Generate chains, aligned = one chain +
    # ReusedExchange). (id, pos) is unique per occurrence, so the extra
    # field can never change the min. Both join children already carry
    # the w exchange's hashpartitioning(h); the hint picks the sort-free
    # SHJ with the distinct-h-cardinality freq side as build.
    freq = w.groupBy("h").agg(
        F.count("*").alias("tot"),
        F.min(F.struct(F.col("id").alias("cid"),
                       F.col("pos").alias("cpos"),
                       F.col("n_toks").alias("cnt"))).alias("canon"),
    ).hint("shuffle_hash")
    removed = (
        w.join(freq, "h")
        .filter(
            (F.col("tot") >= 2)
            & ~((F.col("id") == F.col("canon.cid"))
                & (F.col("pos") == F.col("canon.cpos")))
        )
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.col("pos") + F.least(F.lit(n), F.col("n_toks")) - 1,
                )
            ).alias("rp"),
        )
        .groupBy("id")
        .agg(F.collect_set("rp").alias("removed"))
    )
    # Generate barrier over the doc-cardinality removal sets: the
    # rebuild LeftOuter join infers isnotnull(id) on its build side,
    # and without the barrier that filter pushes all the way into the
    # PROBE copy of w's scan (and only that copy — freq's columns
    # don't derive id), de-identifying the two w subtrees and
    # defeating ReuseExchange exactly like the n_toks pruning did.
    # Behind the explode it stays a post-agg filter on ≤|docs| rows.
    removed = removed.select(
        F.explode(F.array(F.struct("id", "removed"))).alias("_r")
    ).select("_r.id", "_r.removed")
    empty = F.array().cast("array<int>")
    keep = F.filter(
        "toks",
        lambda t, i: ~F.array_contains(
            F.coalesce(F.col("removed"), empty), i
        ),
    )
    return (
        # shuffle_hash on the removal-set side (the filtered/smaller
        # fact): sort-merge would pay a full corpus sort on doc_id for a
        # doc-keyed left join (the filtered-fact-join rule)
        tok.join(removed.hint("shuffle_hash"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("removed"), F.lit(0))
            .cast("bigint").alias("n_removed"),
            F.array_join(keep, " ").alias("cleaned"),
        )
    )
