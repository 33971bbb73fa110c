"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §2.11 extension surface): tokenization stats, quality scoring,
language ID, document fingerprinting.

All operators are pure Column expressions (JVM-side, whole-stage-codegen) —
no Python in the hot path. Each has a DuckDB-expressible twin in
plans/oracle.py; regex/semantics are chosen to evaluate identically in both
engines (``\\s+`` tokenization, md5 hex fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny per-language marker lexicons for the heuristic n-gram/stopword
# language ID. Deliberately deterministic + SQL-expressible (the oracle runs
# the same rules); a production system would plug a real model in via
# pandas_udf without changing the operator surface.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty text → empty array (split of '' yields
    [''] — guarded)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition to cluster parallelism IFF the input plan is narrower.

    The heavy per-row work of the text/dedup family (tokenize, shingle
    build, K md5 signatures, per-token hashes) executes BELOW the first
    exchange, so its parallelism is capped by the SCAN's partition count
    — a small or single-file parquet input (1-2 row groups) silently
    serializes the dominant cost on 1-2 of N cores (measured: the sf1
    md5 signature build ran 29.9 s on a 2-partition scan vs 3.6 s
    repartitioned to 32 — the multimodal decoders hit and documented the
    same trap). At real scale the scan is already wider than
    defaultParallelism and this is a no-op; when it does fire it moves
    only the pre-explode (id, text) rows once."""
    sc = df.sparkSession.sparkContext
    if df.isStreaming:
        # streaming plans have no .rdd — never widen them (and don't pay
        # the plan→RDD conversion just to find that out)
        return df
    narrow = df.rdd.getNumPartitions() < sc.defaultParallelism
    return df.repartition(sc.defaultParallelism) if narrow else df


def token_barrier(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks) with the tokenizer MATERIALIZED behind a Generate
    barrier: ``explode(array(split(...)))`` forces the split to evaluate
    once per document. Projecting ``split() AS toks`` and then using it
    inside a transform() lambda does NOT do that — CollapseProject merges
    the projections and re-inlines the split into the lambda (no CSE
    inside higher-order functions), making every element re-split the
    text: the O(tokens²) trap PERF.md documents. Generate is a barrier
    CollapseProject cannot cross, so downstream array lambdas see a
    materialized array column. This is the sanctioned way to feed array
    lambdas from a computed expression. Narrow scans are widened first
    (see widen_narrow_scan) — every heavy shingle/signature consumer
    sits below this barrier, so this is the one place that guarantees
    the per-row work gets the cluster's parallelism."""
    return widen_narrow_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array(F.split(F.trim(F.col(text_col)), r"\s+"))).alias("toks"),
    )


def bpe_token_estimate(text: Column) -> Column:
    """chars/4 heuristic — the standard back-of-envelope BPE estimate."""
    return F.ceil(F.length(text) / F.lit(4)).cast("bigint")


# Fixed BPE merge table, rank-ordered (the learned-merges artifact a real
# tokenizer ships; deliberately small + deterministic so the encoder is
# oracle-checkable). Includes second- and third-level merges (th+e,
# an+d, in+g, the+r) so the rank-order semantics are actually exercised.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("an", "d"), ("o", "n"), ("r", "e"), ("in", "g"), ("o", "u"),
    ("e", "n"), ("a", "t"), ("e", "s"), ("o", "r"), ("s", "t"),
    ("the", "r"),
]


def bpe_normalize(text: Column) -> Column:
    """Lowercase a-z words, single-spaced: every non-letter run becomes
    one space (identical in Java regex and RE2 — byte vs UTF-16 unit
    differences collapse into the same single replacement)."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z]+", " "))


# Measured r13 (PERF.md "r13: BPE merge-table scale probe", sf0.1): the
# chained-replace encoder stays whole-stage-codegen'd and scales LINEARLY
# in |merges| through 256 (0.59 s @16 → 4.39 s @256 per wave — each
# merge is one full-string scan, no codegen knee), but 384+ nested replace() nodes
# overflow the DRIVER's JVM stack at plan construction
# (ColumnNode→Expression conversion is recursive). Above this bound
# bpe_encode_table switches to the Arrow pandas_udf fallback — the same
# two-space symbol-string algorithm per document (Python str.replace is
# the same non-overlapping left-to-right scan), so the output is
# bit-identical; real tokenizers ship tens of thousands of merges and
# land on the fallback by design.
MAX_CHAINED_MERGES = 256


def bpe_encode_table(text: Column, merges, kernel: bool | None = None) -> Column:
    """bpe_encode with an ARBITRARY rank-ordered merge table (r13).
    ``kernel=None`` keeps the r13 auto rule — ≤ MAX_CHAINED_MERGES takes
    the pure-Column chained-replace form (codegen, JVM-side), above it
    the Arrow rank-dict kernel (the measured driver-stack bound makes
    the chain impossible there). ``kernel=True`` forces the Arrow kernel
    at ANY table size (r18 wave 3, guide §4.2: the 16-merge chain is 16
    full-string scan+allocation passes per document, while the kernel
    pays one boundary crossing and a per-word encode amortized by the
    word cache — ABAB both orders: 1.9× sf0.1, 5.0× sf1, 4.2-4.5× sf10,
    bit-identical outputs, PERF.md "r18"). Both paths share
    bpe_normalize (the Column form) so normalization can never diverge,
    and the kernel is pinned bit-identical to the chain for arbitrary
    tables in test_bpe_encode_table_fallback_matches_chain."""
    norm = bpe_normalize(text)
    use_chain = (len(merges) <= MAX_CHAINED_MERGES) if kernel is None \
        else not kernel
    if use_chain and len(merges) > MAX_CHAINED_MERGES:
        raise ValueError(
            f"kernel=False with {len(merges)} merges: the replace chain "
            f"overflows the driver stack above {MAX_CHAINED_MERGES}"
        )
    if use_chain:
        seq = F.regexp_replace(norm, "(.)", " $1 ")
        for a, b in merges:
            seq = F.replace(seq, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
        return F.when(norm == "", F.lit("")).otherwise(
            F.regexp_replace(F.trim(seq), " +", " ")
        )
    # rank-dict kernel (r14 — the real-tokenizer operating point): the
    # r13 kernel scanned EVERY rank per document (`pat in seq` over the
    # whole table), O(|merges|·len) per doc — measured linear in
    # |merges| (2.3 s @1k → 11.5 s @8k on 50k sf1 docs, PERF.md r14);
    # a 32k-merge production table needs work independent of table
    # size; this kernel measures FLAT (~0.4-0.5 s at 1k/8k/32k). It is the
    # standard subword-nmt/tiktoken shape: per WORD, repeatedly merge
    # the lowest-rank adjacent pair (left-to-right, non-overlapping),
    # with a word→encoding cache (tokenizers cache exactly this).
    # Equivalent to the rank-order chain because a merge never makes two
    # previously non-adjacent symbols adjacent, so once rank r is fully
    # applied it can never re-fire — pinned bit-identical against the
    # chain in test_bpe_encode_table_fallback_matches_chain. Merge pairs
    # never contain the space character (bpe_normalize's alphabet is
    # a-z; learned merges never cross word gaps), so per-word encoding
    # matches the chain's whole-string scan.
    #
    # Constructibility filter (r14 review finding): a pair whose
    # component is neither a single character nor the output of an
    # EARLIER rank can never fire under chain semantics (the symbol
    # doesn't exist when that rank's replace pass runs) — but the
    # min-rank iteration WOULD fire it once a later rank builds the
    # component. Dropping such ranks keeps the two kernels bit-identical
    # for arbitrary tables, exactly as the chain treats them (a no-op).
    built: set = set()
    usable = []
    for a, b in merges:
        if (len(a) == 1 or a in built) and (len(b) == 1 or b in built):
            usable.append((a, b))
            built.add(a + b)
    ranks = {pair: i for i, pair in enumerate(usable)}

    @F.pandas_udf(T.StringType())
    def enc(s):
        cache: dict = {}

        def word(w):
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w)
            while len(syms) > 1:
                best_rank = None
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best = r, (syms[i], syms[i + 1])
                if best is None:
                    break
                out = []
                i = 0
                n = len(syms)
                while i < n:
                    if (i + 1 < n and syms[i] == best[0]
                            and syms[i + 1] == best[1]):
                        out.append(best[0] + best[1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            enc_w = " ".join(syms)
            if len(cache) < 200_000:  # bound executor memory
                cache[w] = enc_w
            return enc_w

        def one(v):
            if v is None:
                return None
            if v == "":
                return ""
            return " ".join(word(w) for w in v.split(" ") if w)

        return s.map(one)

    return enc(norm)


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Distributed BPE merge LEARNING (r13 — the missing third of the
    tokenizer story next to bpe_encode/bpe_token_count: this is
    subword-nmt's learn_bpe, Sennrich et al. 2016): ``n_merges`` rounds
    of corpus-wide adjacent-symbol-pair counting; each round adopts the
    globally most frequent pair (ties broken by (pair count desc, a asc,
    b asc) — deterministic on any input) and re-segments under the
    merges learned so far. Stops early when the best pair's count drops
    below ``min_count``. Returns the rank-ordered merge table —
    feed it to bpe_encode_table / generate oracle SQL from it exactly
    like the shipped BPE_MERGES.

    Scale shape: one pair-count aggregation per round — words explode
    once into a PERSISTED segmentation frame (the two-space symbol
    rendering), and each round applies ONLY the newly adopted merge to
    it (one replace() pass, re-persisted; r13 review: re-deriving the
    full chain from scratch per round is O(n_merges²) replace scans and
    flips past MAX_CHAINED_MERGES onto the Python fallback — the
    incremental form is O(n_merges) passes and never leaves codegen,
    and sequential replaces ARE the chain semantics). The symbol array
    is materialized behind a Generate barrier (the CollapseProject
    lesson) before the pair zip_with; pair counts partial-agg — hot
    pairs collapse map-side. The driver collects ONE row per round (the
    argmax), so this is an iterative algorithm with driver-side control
    flow by nature, like neardup_clusters' fixpoint — n_merges jobs,
    never a collect of corpus data. Real tokenizer training runs on a
    corpus SAMPLE (sentencepiece's input_sentence_size); pass a sampled
    df for that."""
    seg = (
        widen_narrow_scan(df.filter(F.col(text_col).isNotNull()))
        .select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("raw")
        )
        # normalize to the BPE alphabet, then split AGAIN on the spaces
        # normalization introduces ('ab12cd' → 'ab cd'): a pair must
        # never be counted across a boundary the encoder can never
        # merge (merges don't cross word gaps)
        .select(
            F.explode(F.split(bpe_normalize(F.col("raw")), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        # two-space symbol rendering, one word per row: ' a  b  c '
        .select(F.regexp_replace(F.col("w"), "(.)", " $1 ").alias("s"))
        .persist()
    )
    seg.count()  # materialize so each round reads the cache, not lineage
    try:
        merges: list[tuple[str, str]] = []
        for _ in range(n_merges):
            syms_df = seg.select(
                F.explode(
                    F.array(F.split(F.trim(F.col("s")), "  "))
                ).alias("syms")
            ).filter(F.size("syms") >= 2)  # 1-symbol words carry no pair
            n = F.size("syms")
            pairs = syms_df.select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, n - 1),
                        F.slice("syms", 2, n - 1),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                ).alias("p")
            ).select("p.a", "p.b")
            top = (
                pairs.groupBy("a", "b")
                .agg(F.count("*").alias("c"))
                .orderBy(F.col("c").desc(), F.col("a"), F.col("b"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < min_count:
                break
            a, b = top[0]["a"], top[0]["b"]
            merges.append((a, b))
            nxt = seg.select(
                F.replace(
                    F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
                ).alias("s")
            ).persist()
            # if the materializing count throws, unpersist nxt too — the
            # finally below only sees the OLD seg (ADVICE r13 leak)
            try:
                nxt.count()
            except Exception:
                nxt.unpersist()
                raise
            seg.unpersist()
            seg = nxt
        return merges
    finally:
        seg.unpersist()


def bpe_encode(text: Column, kernel: bool | None = None) -> Column:
    """REAL greedy BPE encoding (VERDICT r11 item 2) with the fixed
    BPE_MERGES table, as a pure Column expression — no Python in the hot
    path, and bit-identical in DuckDB.

    Semantics: the canonical apply-merges-in-rank-order encoder (Sennrich
    et al.'s subword-nmt shape): start from characters; for each merge
    (a, b) in rank order, replace every non-overlapping (a, b) symbol
    pair left-to-right with the merged symbol, fully, before the next
    rank. Merges never cross word boundaries.

    Engine-portable construction: each symbol is rendered as `` s ``
    (OWNING its leading and trailing space), so the sequence
    ``[a, b, c]`` is the string ``" a  b  c "`` — symbol gaps are exactly
    two spaces, word gaps (the space character's own rendering) are four,
    and a pair pattern ``" a  b "`` (two inner spaces) therefore:

    - cannot share characters with an adjacent match → plain string
      ``replace()``'s non-overlapping left-to-right scan IS the BPE merge
      pass (``[a,a,a,a]`` → ``[aa,aa]``, never the consumed-boundary
      ``[aa,a,a]`` a single-space rendering produces);
    - cannot false-match a symbol PREFIX or SUFFIX (``[a, ab]`` does not
      contain ``" a  a "`` — 'ab' continues with 'b' where the pattern
      needs the closing space);
    - cannot cross a word boundary (four spaces never match two).

    So the whole encoder is one regexp_replace (char → `` $1 ``) plus
    |merges| chained ``replace()`` calls — whole-stage-codegen'd in
    Spark, and the DuckDB oracle is the literally identical chain.
    Returns the single-spaced symbol string ('' for empty/no-letter
    text); count tokens with ``size(split(.., ' '))`` behind a Generate
    barrier (see token_barrier / PERF.md CollapseProject lesson).
    Merge-table scale bound + fallback: see bpe_encode_table /
    MAX_CHAINED_MERGES (r13). ``kernel=True`` (r18 wave 3) forces the
    bit-identical Arrow rank-dict kernel — the fast lane for bulk
    encoding (the chain stays the definitional form the DuckDB oracle
    is generated from)."""
    return bpe_encode_table(text, BPE_MERGES, kernel=kernel)


def bpe_token_count(text: Column, kernel: bool | None = None) -> Column:
    """REAL BPE token count (symbols after the full merge chain) — the
    unit actual pretraining batches are budgeted in, vs token_count's
    whitespace words and bpe_token_estimate's chars/4. Single use of the
    encode chain per document (one projection — no Generate barrier
    needed when nothing else derives from the same expression).
    ``kernel`` as in bpe_encode."""
    enc = bpe_encode(text, kernel=kernel)
    return (
        F.when(enc == "", F.lit(0)).otherwise(F.size(F.split(enc, " ")))
        .cast("bigint")
    )


# fasttext-shaped hashed linear classifier (VERDICT r11 item 8): B hash
# buckets over tokens, one fixed integer weight per bucket. The weights
# are derived deterministically from md5 so they are reproducible
# anywhere, and INTEGER so the document score is an exact dot product —
# oracle-checkable with no float contract. A production system swaps the
# weight table for trained weights without changing the plan shape.
QUALITY_BUCKETS = 64


def _quality_weights() -> list[int]:
    import hashlib

    return [
        int(hashlib.md5(f"qw:{b}".encode()).hexdigest()[:15], 16) % 21 - 10
        for b in range(QUALITY_BUCKETS)
    ]


QUALITY_WEIGHTS: list[int] = _quality_weights()


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Linear n-gram-hash quality scorer: per document, the exact-integer
    dot product of its hashed token counts with the fixed QUALITY_WEIGHTS
    table — sum over token OCCURRENCES of w[bucket(token)] (bucket =
    low 6 bits of xxhash64, replaying DuckDB's unsigned ``h % 64``) —
    plus the token count, so a caller thresholds on score or on the
    length-normalized score/n_tokens without any float in the contract.
    Docs with no tokens have no row (the commonness contract).

    Scale: scan → explode → per-token hash + literal-array gather →
    ONE partially-aggregated groupBy exchange carrying (doc_id, int) —
    no weight-table join (B=64 weights live in the expression), no
    Python. The fasttext inference shape, minus the learned weights."""
    w = F.array(*[F.lit(x) for x in QUALITY_WEIGHTS])
    tok = widen_narrow_scan(
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    ).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    )
    # unsigned % 64 == low 6 bits (QUALITY_BUCKETS is a power of 2);
    # arithmetic % on the SIGNED hash would diverge from DuckDB
    b = F.xxhash64(F.col("token")).bitwiseAND(F.lit(QUALITY_BUCKETS - 1)).cast("int")
    return (
        tok.select(F.col(id_col), F.element_at(w, b + 1).alias("wt"))
        .groupBy(id_col)
        .agg(
            F.sum("wt").cast("bigint").alias("score"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
    )


def type_token_ratio(text: Column) -> Column:
    """distinct tokens / tokens, 4 decimals; 0.0 for empty text."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(F.size(F.array_distinct(toks)) / n, 4)
    )


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(total / n, 4))


def quality_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: token counts, type-token ratio,
    mean token length, BPE estimate. Narrow projection — scans prune to
    (id, text) and everything stays in one codegen stage."""
    t = F.col(text_col)
    return df.select(
        id_col,
        token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        type_token_ratio(t).alias("ttr"),
        mean_token_len(t).alias("mean_tok_len"),
        bpe_token_estimate(t).alias("bpe_est"),
    )


def lang_id(text: Column) -> Column:
    """Marker-word vote: first language (in fixed order) with a marker hit;
    'und' (undetermined) otherwise. Padded containment so markers match as
    whole tokens."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        hit = None
        for marker in LANG_MARKERS[lang]:
            cond = padded.contains(f" {marker} ")
            hit = cond if hit is None else (hit | cond)
        expr = F.when(hit, lang).otherwise(expr)
    return expr


def normalize_text(text: Column) -> Column:
    """Whitespace-collapse + lowercase — the canonical form fingerprints
    hash (rolling-hash equivalent; md5 of the normalized form gives the
    same dedup partitioning with a portable function). Collapse BEFORE
    trim: trim() strips only spaces, so tabs/newlines at the edges must be
    collapsed to spaces first."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint(text: Column) -> Column:
    return F.md5(normalize_text(text))


# PII scrub patterns, applied IN ORDER: each replacement token is free of
# characters later patterns match (no digits in <EMAIL>/<IP>), so the
# sequential passes never double-count or re-match their own output.
# Dialect-portable subset: no backreferences, no lookaround — the same
# pattern strings compile under Java regex (Spark) and RE2 (DuckDB).
REDACT_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("number", r"\d+", "<NUM>"),
]


def redact(text: Column, patterns=None) -> tuple[Column, Column]:
    """PII redaction for training corpora: sequentially replace each
    pattern with its placeholder and return (redacted, n_redactions).
    Counting happens BEFORE each replacement on the current intermediate
    string, so a match consumed by an earlier pattern (digits inside an
    email) is counted once, under its most specific category.

    Pure Column expressions (regexp_count + regexp_replace) — stays in
    whole-stage codegen, no UDF; the scrub is a scan-side map at 100 TB."""
    if patterns is None:
        patterns = REDACT_PATTERNS
    n = F.lit(0).cast("bigint")
    out = text
    for _name, pat, repl in patterns:
        n = n + F.regexp_count(out, F.lit(pat)).cast("bigint")
        out = F.regexp_replace(out, pat, repl)
    return out, n


def line_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Corpus-wide exact LINE dedup (the C4/RefinedWeb/Dolma pass: a line
    appearing in multiple documents survives only at its FIRST occurrence
    — min (doc_id, position) — and is removed everywhere else, including
    repeats inside the same document). Returns per document:
    (doc_id, n_kept, n_dropped, clean_text) with clean_text the kept
    lines rejoined by newline in original order — for a corpus with no
    duplicate lines this is the exact split→reassemble identity, which
    the driver gate checks; the dedup semantics are exercised by the
    adversarial fixture's duplicate-line rows.

    Contracts: line identity is hash-keyed (both engines group/join on
    xxhash64(line); the contamination hash-contract pattern, collisions
    move both sides together); whitespace-only lines NEVER dedup
    (removing every blank separator but one would mangle formatting
    corpus-wide). Whitespace-only lines are also kept OUT of the
    content hash space (the DuckDB oracle's lmap holds content lines
    only, so a 64-bit whitespace↔content collision would be the one
    spot where 'collisions move both sides together' fails) — the join
    is on (is_ws, h) so the key spaces are disjoint by construction.

    Scale shape (the spans_drop topology): the line stream is derived
    ONCE and repartitioned on the 8-byte hash — the winner aggregate
    rides that exchange's partitioning (complete mode, no second line
    exchange) and the probe is an exchange-free in-partition
    shuffled-hash join against it, so the corpus text shuffles exactly
    once before the doc-keyed reassembly (a winner-broadcast shape
    re-runs the full scan+split Generate pass per consumer and
    sort-merge-joins the streams — two corpus passes + two sorts at
    100 TB where the winners side outgrows the broadcast threshold).
    Subtree-identity discipline (pinned by executed-plan test): the
    winner struct carries ``line`` as a tie-dead third field so the
    freq branch reads every exchanged column (pruning would
    de-identify), the winner agg takes the NULL-free (is_ws, h) groups
    WITHOUT a pre-filter (a content filter would push below the shared
    exchange), and every join key is non-nullable so no one-sided
    isnotnull inference can fire. Reassembly is one partial-agg
    groupBy per doc; the in-doc sort is array_sort over that doc's
    lines only, never a global sort."""
    lines = widen_narrow_scan(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    # repartition on BOTH join keys: requireAllClusterKeysForCoPartition
    # (default true) demands all-key partitioning on both join sides —
    # a bare repartition(h) gets rewritten to (is_ws, h) on the probe
    # side only, de-identifying the subtrees AND stacking an
    # ENSURE_REQUIREMENTS exchange on the winners side (measured: 2
    # Generate passes + 3 exchanges). is_ws is a function of line, so
    # the row distribution is identical to hash(h).
    lines = lines.select(
        "doc_id", "pos", "line",
        (F.trim(F.col("line")) == "").alias("is_ws"),
        F.xxhash64(F.col("line")).alias("h"),
    ).repartition(F.col("is_ws"), F.col("h"))
    # the third struct field exists ONLY so this branch reads the
    # exchanged `line` column (pruning identity — see docstring);
    # length(line) reads it while buffering an INT, so the SHJ build
    # side never holds distinct-line TEXT (at 100 TB the build table
    # is (bool, int64, {int64,int,int}) per distinct line, not the
    # corpus text). (doc_id, pos) is unique per row, so the extra
    # field can never change the min.
    winners = (
        lines.groupBy("is_ws", "h")
        .agg(F.min(F.struct("doc_id", "pos",
                            F.length("line").alias("ln"))).alias("w"))
        .select(F.col("is_ws").alias("w_ws"), F.col("h").alias("wh"), "w")
    )
    tagged = lines.join(
        winners.hint("shuffle_hash"),
        (lines["is_ws"] == F.col("w_ws")) & (lines["h"] == F.col("wh")),
        "left",
    ).withColumn(
        "kept",
        # is_ws first: a whitespace line always matches its own
        # (is_ws=true, h) group's winner but is kept unconditionally
        F.col("is_ws")
        | F.col("w").isNull()
        | ((F.col("doc_id") == F.col("w.doc_id"))
           & (F.col("pos") == F.col("w.pos"))),
    )
    return tagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "line")))
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )


def fingerprint_docs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(id_col, fingerprint(F.col(text_col)).alias("fp"))


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 30, min_df: int = 2
) -> DataFrame:
    """Top-k vocabulary by DOCUMENT frequency (the first step of any
    vocab/BPE build over a corpus): distinct tokens per document, counted
    across documents, highest-df first with the token as the total-order
    tie-break.

    Scale: explode(distinct tokens) → partial+final count per token (the
    shuffle carries one (token, partial_count) per map partition, not one
    row per occurrence) → orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-k heap + driver merge of k rows — no global sort at
    any scale). Empty documents are filtered on both engines (DuckDB's
    split('') yields [''] where Spark's guarded tokens() yields [])."""
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
        .orderBy(F.col("doc_freq").desc(), F.col("token"))
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap
    (context-window prep for training/embedding): chunk c covers token
    positions [c*stride, c*stride + chunk_tokens), stride = chunk_tokens -
    overlap. Output (doc_id, chunk_id, chunk_text, n_tokens); empty docs
    produce no chunks.

    DOC-LOCAL (r6): tokenize once behind the Generate barrier
    (token_barrier), build every chunk with one linear slice/array_join
    lambda over the materialized token array, and explode — ZERO
    shuffles, pure scan-side pipeline. The previous shape exploded each
    token into its ≤2 covering chunks and rebuilt windows with a
    (doc, chunk) groupBy + ordered collect_list — a full shuffle of the
    token stream that the barrier makes unnecessary. (Naively slicing a
    PROJECTED tokens array inside transform() is the O(tokens²)
    CollapseProject trap the barrier exists for — see token_barrier.)"""
    stride = chunk_tokens - overlap
    assert stride > 0, "overlap must be smaller than chunk_tokens"
    tok = token_barrier(
        df.filter(F.trim(F.col(text_col)) != ""), id_col, text_col
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(stride)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda c: F.struct(
            c.alias("chunk_id"),
            F.array_join(
                F.slice(F.col("toks"), c * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens).cast("long"), F.size("toks") - c * stride)
            .alias("n_tokens"),
        ),
    )
    return tok.select(
        F.col("id").alias(id_col), F.inline(chunks)
    )


def pack_offsets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 512,
    order_col: str | None = None,
    n_buckets: int = 64,
    cache: bool = True,
    count_expr: Column | None = None,
) -> DataFrame:
    """GPT-style sequence packing by global token offset: concatenate the
    corpus in a deterministic document order (``order_col``, default the
    id — must be numeric and unique), then slice the token stream into
    fixed ``block_tokens`` training sequences — documents may SPAN block
    boundaries (the standard concatenate-then-chunk pretraining layout,
    vs chunk_documents' per-doc windows). Output per document: token
    count, global start offset, and the first/last training sequence it
    lands in.

    Scale shape — a DISTRIBUTED prefix sum, never a global window: the
    tempting ``sum() OVER (ORDER BY order)`` with no PARTITION BY drags
    every row onto ONE partition in Spark. Instead:

      1. bucket = floor(order·B / (max+1)) — monotone in the order key, so
         buckets partition the global order into contiguous runs; max
         rides a broadcast 1-row aggregate (lazy, no driver collect),
      2. within-bucket exclusive cumsum (window PARTITIONED by bucket),
      3. per-bucket totals → exclusive running bases via a window over
         the B-row totals frame (control-plane-sized by construction),
      4. broadcast-join the bases back: start = base + local cumsum.

    Everything shuffled is one narrow (id, n_tokens) row per DOCUMENT
    (never per token), and the only all-on-one-partition step has exactly
    ``n_buckets`` rows. The result is bucket-count-invariant — the oracle
    is a plain windowed running sum. Skewed order keys skew buckets;
    raise n_buckets or pre-normalize the key if the id space is sparse.

    TOKENIZE-ONCE CONTRACT: the narrow counted frame (id, order,
    n_tokens) is ``persist()``-ed (lazily — the plan stays lazy). The
    prefix-sum topology references it from FOUR branches (max, cumsum,
    totals, bases); Catalyst duplicates shared subtrees into each branch,
    so without the cache the corpus would be scanned AND tokenized once
    per branch — measured as 6 parquet scans of the text column in the
    uncached plan. With it, tokenization runs exactly once per execution
    and every branch reads ~16 bytes/doc from memory. The cached
    intermediate stays resident for plan reuse; callers finished with
    the result should ``spark.catalog.clearCache()`` or keep the frame
    handle via ``pack_offsets(..., cache=False)`` and manage caching
    themselves (cache=False keeps the plan pure for one-shot executions
    that prefer re-scan over residency)."""
    from pyspark.sql import Window

    order = F.col(order_col) if order_col else F.col(id_col)
    # count_expr swaps the packing unit (default: whitespace tokens; pass
    # bpe_token_count(col) for BPE-exact packing — ext_pack_bpe). The
    # expression evaluates once per document into the persisted counted
    # frame, so even the 17-step BPE chain is tokenize-once here.
    n_tok = (
        count_expr if count_expr is not None else token_count(F.col(text_col))
    ).cast("bigint")
    # r18 wave 3b: the count rides a Generate barrier (explode(array))
    # so it evaluates ONCE per document — the n_tokens > 0 filter below
    # otherwise duplicates the whole count expression (pushdown
    # re-derives it for the predicate), and for ext_pack_bpe that
    # expression is the 17-step encode: the unbarriered cached-frame
    # build carried ~20 inlined replace-chain copies (326 replace()
    # nodes in the nocache plan; measured 4.2 s vs 0.9 s at sf0.1).
    # Behind the barrier a pandas_udf count also extracts exactly once
    # (both references inside when/otherwise share the extracted slot).
    base_rows = df.select(
        F.col(id_col), order.alias("_ord"),
        F.explode(F.array(n_tok)).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    if cache:
        base_rows = base_rows.persist()
    stats = base_rows.agg(F.max("_ord").alias("_mx"))
    # greatest(mx+1, 1): only MONOTONICITY of the bucket map matters, and
    # a non-positive divisor (possible when every order key is negative)
    # would otherwise put ±inf through floor(); with divisor 1 the map
    # degrades to floor(ord·B) — still monotone, still correct
    bucketed = base_rows.crossJoin(F.broadcast(stats)).select(
        id_col,
        "_ord",
        "n_tokens",
        F.floor(
            F.col("_ord").cast("double")
            * n_buckets
            / F.greatest(F.col("_mx") + 1, F.lit(1))
        ).alias("_bkt"),
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn(
        "_local", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0).cast("bigint"))
    )
    # totals read the cached counted frame directly (bucket arithmetic is
    # a map over ~16-byte rows); partial aggregation collapses each
    # bucket map-side before its one tiny shuffle
    totals = bucketed.groupBy("_bkt").agg(F.sum("n_tokens").alias("_tot"))
    # exclusive running base per bucket via a triangular self-join: the
    # frame is n_buckets rows BY CONSTRUCTION, so the O(B²) pair count is
    # control-plane-sized and the join broadcasts — unlike a global-order
    # window, which Spark would (correctly) flag as an unpartitioned
    # single-partition WindowExec even at 64 rows
    bases = (
        totals.alias("a")
        .join(
            F.broadcast(totals.select(
                F.col("_bkt").alias("_pb"), F.col("_tot").alias("_pt")
            )),
            F.col("_pb") < F.col("a._bkt"),
            "left",
        )
        .groupBy(F.col("a._bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("_pt"), F.lit(0).cast("bigint")).alias("_base"))
    )
    start = F.col("_base") + F.col("_local")
    return local.join(F.broadcast(bases), "_bkt").select(
        id_col,
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / block_tokens).alias("start_seq"),
        F.floor((start + F.col("n_tokens") - 1) / block_tokens).alias("end_seq"),
    )


def url_canonicalize(url: Column) -> Column:
    """Canonical URL identity for URL-level dedup (r15) — the first
    dedup stage of RefinedWeb-class pipelines (Penedo et al. 2023,
    arXiv:2306.01116 §3.1 apply it before any content dedup: the same
    page re-crawled under trivially different URLs is the cheapest
    duplicate class to kill). Pure Column regexp chain (one codegen
    stage, zero shuffles). Engine portability: step 1 deletes ALL
    whitespace (URLs carry none legitimately), which makes the later
    '$' anchors safe on both engines — Java '$' matches before a
    trailing newline, RE2's does not (the adversarial-gate rule), so
    '$' is only portable once newlines cannot exist; replacement
    backreferences use each engine's own syntax (Java '$n' here,
    RE2 '\\n' in the DuckDB oracle):

    lowercase + drop whitespace → drop #fragment → drop http(s)://
    scheme → drop leading www. → drop default :80/:443 port → drop
    utm_* tracking params (re-anchoring the first surviving param to
    '?') → drop empty '?' → drop one trailing slash.

    Ordering matters and is pinned by tests: the fragment goes FIRST
    (a '#' can hide a tracking param), the port is normalized before
    path handling, and the trailing slash goes LAST (stripping the port
    can expose one)."""
    # explicit whitespace class, not \s: Java's \s includes \x0b, RE2's
    # does not — the classes must be written out for the two engines to
    # delete the same characters (r15 review)
    u = F.regexp_replace(F.lower(url), "[ \t\n\x0b\f\r]", "")
    u = F.regexp_replace(u, r"#.*", "")
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    # default port: anchored to the AUTHORITY ([^/?]* from the start —
    # scheme/www are already gone) so a literal ':80/' inside the path
    # ('/api/v1:80/x') is never stripped (r15 ADVICE: the unanchored form
    # collapsed distinct pages into one canonical identity)
    u = F.regexp_replace(u, r"^([^/?]*):(80|443)(/|\?|$)", "$1$3")
    # tracking params: drop every utm_* key (with its & or ? prefix) ...
    u = F.regexp_replace(u, r"[?&]utm_[^&#]*", "")
    # ... then re-anchor: if the FIRST survivor lost its '?', restore it.
    # [^?&] — the class must exclude '&' or the regex greedily rewrites
    # the LAST '&' before any '?' ('?utm_x=1&q=2&r=3' canonicalized to
    # 'a&q=2?r=3', so the true duplicate 'a?q=2&r=3' never matched —
    # r15 VERDICT finding, reproduced in tests)
    u = F.regexp_replace(u, r"^([^?&]*)&", "$1?")
    u = F.regexp_replace(u, r"\?$", "")
    u = F.regexp_replace(u, r"/$", "")
    return u
