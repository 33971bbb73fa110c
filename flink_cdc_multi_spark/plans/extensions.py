"""Extension query surface (SURVEY.md §2.11): dedup / similarity / text /
multimodal as driver-checkable queries over the synthetic tables.

Oracle-parity design rules:
- Ratio-style metrics are emitted as exact integer numerator/denominator
  pairs (jaccard → inter/union, TTR → unique/total) so no cross-engine
  floating-round divergence can occur; thresholds are applied in integer
  arithmetic (5*inter >= union  ⇔  jaccard >= 0.2).
- Hash-dependent operators come in two flavors: the xxhash64/kmeans forms
  are engine-local and registered WITHOUT an oracle (rows-only check +
  fixture/recall tests), while every md5-derived form — the *_md5 minhash/
  simhash twins AND the hyperplane-LSH queries (portable ±1 planes from
  md5 parity over LSH_QUANT-quantized components, integer-exact buckets) —
  is fully oracle-checked.
- Pair queries are scoped to bounded id prefixes so the quadratic verify
  stays bounded at every SF; the unbounded scale path is the LSH variant.
- Result contract is an unordered multiset (driver hash is row-order-
  insensitive), so no trailing presentation ``orderBy`` — see
  plans/queries.py. Window-spec orderings (semantic) stay.
"""

from __future__ import annotations

import atexit
import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cdc_multi_spark.operators import cdc as C
from flink_cdc_multi_spark.operators import dedup as D
from flink_cdc_multi_spark.operators import similarity as S
from flink_cdc_multi_spark.operators import text as X
from flink_cdc_multi_spark.plans.queries import load_table

# serializes the memoized plan-time builds (ADVICE r12) AND the session
# cache dict installation itself — every _fcm_result_cache consumer must
# fetch the dict through _session_cache or a racing first-caller can
# install a fresh dict over one that already holds a built entry
# (r13 review finding: ext_dedup_clusters was the second installer)
_ANN_INDEX_BUILD_LOCK = threading.Lock()

# per-process index artifact dirs this process built under the temp dir;
# nothing else ever reads them, so they go when the interpreter exits
_OWN_TMP_DIRS: set[str] = set()


def _remove_own_tmp_dirs() -> None:
    import shutil

    for path in _OWN_TMP_DIRS:
        shutil.rmtree(path, ignore_errors=True)


atexit.register(_remove_own_tmp_dirs)


def _own_tmp_dir(path: str) -> str:
    """Mark ``path`` for removal at interpreter exit; returns it."""
    _OWN_TMP_DIRS.add(path)
    return path


def _session_cache(spark) -> dict:
    with _ANN_INDEX_BUILD_LOCK:
        cache = getattr(spark, "_fcm_result_cache", None)
        if cache is None:
            cache = {}
            spark._fcm_result_cache = cache
        return cache

# Broadcast guard for ext_text_commonness (VERDICT r10 item 6): source
# bytes bound the frequency-table size (distinct hashes <= total tokens
# <= text bytes, 16 bytes/freq row), so a local input under this many
# UNCOMPRESSED bytes proves the freq side is executor-memory-safe to
# broadcast. Uncompressed, because the soundness chain ends at TEXT
# bytes: parquet text columns commonly compress 3-10x, so an on-disk
# size would under-count the bound by that factor (ADVICE r11) — the
# footer's total_byte_size is the decoded size and keeps the proof exact.
_COMMONNESS_BCAST_BYTES = int(
    os.environ.get("SPARK_GRAFT_COMMONNESS_BCAST_BYTES", 64 << 20)
)


# Broadcast guard for graph_pagerank_over (VERDICT r14 item 2): the
# rank/degree/contribution frames are NODE-cardinality at 16 bytes/row
# (src:bigint, cv:bigint), and every node of the doc pair graph is a
# doc_id, so documents' row count bounds the broadcast payload. 64 MB
# default = 4M nodes — far above any gate SF, far below executor memory.
_PAGERANK_BCAST_BYTES = int(
    os.environ.get("SPARK_GRAFT_PAGERANK_BCAST_BYTES", 64 << 20)
)


def _local_input_rows(sf_dir: str, table: str) -> int:
    """Row count of a LOCAL parquet input from footer metadata only (no
    Spark job — the plan stays lazy), or a sentinel larger than any
    broadcast threshold when the path is remote, unreadable, or a dir
    with no ``.parquet`` members: the guard fails CLOSED to the shuffle
    plan, exactly like :func:`_local_input_bytes`."""
    big = 1 << 62
    if "://" in sf_dir:
        return big
    path = os.path.join(sf_dir, f"{table}.parquet")

    def footer_rows(f: str) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f).metadata.num_rows

    try:
        if os.path.isfile(path):
            return footer_rows(path)
        if os.path.isdir(path):
            counts = [
                footer_rows(e.path)
                for e in os.scandir(path)
                if e.is_file() and e.name.endswith(".parquet")
            ]
            if counts:  # empty proves nothing — fail closed (see bytes guard)
                return sum(counts)
    except Exception:
        pass
    return big


def _local_input_bytes(sf_dir: str, table: str) -> int:
    """UNCOMPRESSED byte size of a LOCAL parquet input (sum of row-group
    ``total_byte_size`` from the footers — decoded bytes, the quantity the
    broadcast-soundness argument is about), or a sentinel larger than any
    broadcast threshold when the path is remote (s3a/hdfs), unreadable, or
    missing — the guard must fail CLOSED to the shuffle plan. Driver-side
    footer metadata only: no Spark job, the query plan stays lazy."""
    big = 1 << 62
    if "://" in sf_dir:  # s3a://, hdfs://, ... — size unknown, fail closed
        return big
    path = os.path.join(sf_dir, f"{table}.parquet")

    def footer_bytes(f: str) -> int:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f).metadata
        return sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))

    try:
        if os.path.isfile(path):
            return footer_bytes(path)
        if os.path.isdir(path):  # multi-file parquet dir (one level deep)
            sizes = [
                footer_bytes(e.path)
                for e in os.scandir(path)
                if e.is_file() and e.name.endswith(".parquet")
            ]
            # an empty sum proves NOTHING: a dir whose data files lack the
            # .parquet suffix (Hive part files) or live in partition
            # subdirs would otherwise pass the guard at size 0 and
            # broadcast an arbitrarily large corpus — fail CLOSED instead
            if sizes:
                return sum(sizes)
    except Exception:  # corrupt footer / non-parquet file — fail closed
        pass
    return big


# -- dedup ------------------------------------------------------------------


def _ngram_pair_candidates(docs: DataFrame, mult: int = 5) -> DataFrame:
    """Shared 3-gram Jaccard pair builder for the scoped dedup queries:
    shingle equi-join + per-pair intersection count + per-doc distinct
    counts, with the jaccard >= 1/mult threshold applied in exact integer
    arithmetic (default 0.2). Returns (a_id, b_id, inter, union_sz)."""
    sh = D.shingle_exploded(docs, "doc_id", "text", 3)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
        .withColumn("union_sz", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * mult >= F.col("union_sz"))  # jaccard >= 1/mult
        .select("a_id", "b_id", "inter", "union_sz")
    )


def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup representatives: one doc per distinct text (min doc_id),
    grouped on a 128-bit digest so the shuffle key is 16 bytes, not the
    document."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"], "doc_id").select("doc_id")


def ext_dedup_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (r15) — the first dedup stage of RefinedWeb-class
    pipelines (arXiv:2306.01116 §3.1): canonicalize the URL
    (operators/text.url_canonicalize — lowercase, strip whitespace/
    fragment/scheme/www/default-port/utm-params/trailing-slash) and keep
    one doc per canonical identity. URLs are synthesized closed-form
    from doc_id (the multimodal idiom: scheme/WWW/port/slash/utm/
    fragment variants by doc_id residues, so every canonicalization
    rule fires at the gate SF and both engines build the identical
    messy string), then the whole op is ONE codegen stage + ONE
    partial-agg'd groupBy — no joins, no windows; at 100 TB the shuffle
    carries one row per (partition, canonical URL). Output:
    (url_canon, n_dups, keep_id = min doc_id)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http://")).otherwise(F.lit("HTTPS://")),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"), (d % 50).cast("string"), F.lit(".example.com"),
        F.when(d % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/page/"), (d % 20).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        # surviving params AFTER the utm arm (r16): every 14th doc carries
        # the exact shape the r15 re-anchor bug mangled (leading utm + >=2
        # surviving params), and odd multiples of 7 pin the '&'-leading
        # re-anchor itself ('...&page=N&ref=home' with no '?')
        F.when(d % 2 == 0,
               F.concat(F.lit("&page="), (d % 3).cast("string"))
               ).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("&ref=home")).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return (
        docs.select(d.alias("doc_id"), X.url_canonicalize(url).alias("url_canon"))
        .groupBy("url_canon")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def ext_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint histogram (whitespace/case-insensitive
    near-exact dedup key)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.fingerprint_docs(docs)
        .groupBy("fp")
        .agg(F.count("*").alias("n"))
    )


def ext_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (doc_id < 300 scope), exact
    integer output: (a_id, b_id, inter, union_sz) for jaccard >= 0.2."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # exact-integer variant of operators.dedup.ngram_jaccard_pairs (which
    # returns a rounded ratio for API use)
    return _ngram_pair_candidates(docs)


def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.35, vec_id < 1000 scope).
    max_rows=None: the vec_id filter IS the scope contract, so the
    operator's limit(n+1).count() guard would only add a Spark job per
    execution (the guard exists for unscoped API callers)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return D.embedding_neardup_pairs(emb, threshold=0.35, dim=64, max_rows=None)


def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup PAIRS, fully oracle-checked: banded LSH over
    the portable md5-hash60 signatures (16 hashes, 4 bands; candidates =
    pairs whose 4-hash band SLICES are equal for some band, joined on the
    band-slice key and emitted once at the first equal band — see
    _banded_pairs_fused), agreement reported as the
    exact integer count of matching minhashes (>= 8 ⇔ est. jaccard >=
    0.5). The xxhash64 operator (D.minhash_lsh_pairs, 64 hashes / 16
    bands) is the documented non-gated fast path — same pipeline shape,
    cheaper hash; pinned against this form in tests."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.minhash_lsh_pairs_md5(docs, num_hashes=16, bands=4)


def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS, hamming <= 3 via the FUSED pigeonhole block
    join (r10: emit-once first-equal-block filter, no pair dropDuplicates
    exchange — sf10 unscoped on the 100-dup-clique corpus: 1192 s -> 16.4 s
    at identical 29.87M pairs, DuckDB timeout; PERF.md r10) over the
    portable 60-bit md5 SimHash — fully oracle-checked. The xxhash64
    64-bit operator (D.simhash_pairs) is the documented non-gated fast
    path, same fused shape."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.simhash_pairs_md5(docs, max_hamming=3)


def ext_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup over the FULL table — the scale path
    whose exact-scoped twin is ext_dedup_embedding. Oracle-checked since the
    hyperplanes went portable (md5-parity ±1 planes over quantized
    components: integer-exact buckets in every engine). The in-bucket verify
    is the operator API's numpy Gram kernel (one BLAS matmul per bucket) —
    the earlier per-pair zip_with/aggregate fold ran the 64-term dot
    interpreted per candidate (PERF.md HOF lesson) and was the only r2→r3
    regression. Same buckets, same pairs: the output is membership-only
    (a_id, b_id), so fp summation order can't flip the hash unless a pair
    lands exactly on the 0.35 threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs_lsh(emb, dim=64, threshold=0.35, n_planes=6)


def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition (r12, VERDICT r11 item 3): IVF cells as
    clusters (deterministic centroids = vectors 20..35, the ext_ann_ivf
    model idiom) → in-cell cosine near-dup (>= 0.35, the numpy Gram
    kernel) → keep the lowest-id representative per duplicate
    neighborhood. Output (vec_id, cell, kept) for the vec_id < 5000
    scope (bounds the oracle's in-cell quadratic at every SF; the
    operator itself is unbounded — cells bound the quadratic, and at
    scale you raise n_centroids). Membership-only kept flag: fp
    summation order (BLAS Gram vs the oracle's sequential list fold)
    cannot flip the result unless a pair lands exactly on the
    threshold — the ext_dedup_embedding contract. Plan-pinned: ONE
    exchange (hash on cell), no join, no cartesian
    (test_plan_quality)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5000)
    centroids = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
    return D.semantic_dedup(emb, centroids, dim=64, threshold=0.35)


def _semantic_trained_path() -> str:
    """Artifact dir for the trained SemDeDup coarse quantizer — the
    _trained_index_path idiom: pid-keyed (concurrent processes can't
    race each other's overwrite), sf-INDEPENDENT so the DuckDB oracle
    can name it (rendered lazily per LAZY_ORACLE_SQL); one artifact per
    process, rebuilt whenever sf_dir changes."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"fcm_semdedup_trained_{os.getpid()}"
    )


def ext_dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED coarse quantizer (r15, VERDICT r14 item
    6): the same composition as ext_dedup_semantic, but the cells come
    from train_ivf_centroids (seeded kmeans++/Lloyd on the int64
    LSH_QUANT grid) instead of 16 fixed data vectors — the same upgrade
    that bought the ANN path +78% recall@3 (PERF.md r13). Measured
    (PERF.md "r15 trained coarse quantizer in SemDeDup"): dup recall vs the
    quantization-free truth rises 0.417→0.486 (2k vectors) / 0.805→0.827
    (5k), zero false drops either way, and max/mean cell balance tightens
    1.31→1.10 — at 100 TB the balance bound is what caps the slowest
    in-cell keep-one task for a given n_centroids knob.

    Gate pattern = ext_ann_ivfpq_trained: kmeans is engine-local
    plan-time work (documented eager build, memoized per session+sf),
    the trained grid persists verbatim as int64 parquet, and the DuckDB
    oracle replays the entire distributed half — cell argmin (d2, cid)
    and in-cell keep-one — from the artifact, bit-for-bit. Output:
    (vec_id, cell, kept), same schema as the fixed-cell query."""
    cache = _session_cache(spark)
    path = _semantic_trained_path()
    with _ANN_INDEX_BUILD_LOCK:
        if cache.get("semdedup_trained_sf") != sf_dir:
            _own_tmp_dir(path)
            emb = load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < 5000
            )
            tc = S.train_ivf_centroids(emb, n_cells=16, dim=64)
            (
                spark.createDataFrame(
                    [(int(i), [int(x) for x in tc[i]]) for i in range(len(tc))],
                    "id long, vq array<long>",
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{path}/centroids_q")
            )
            cache["semdedup_trained_sf"] = sf_dir
            cache["semdedup_trained_model"] = tc
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5000)
    return D.semantic_dedup(
        emb,
        None,
        dim=64,
        threshold=0.35,
        trained_centroids=cache["semdedup_trained_model"],
    )


def ext_text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge LEARNING, gated cross-engine (r13): the
    first 3 merges subword-nmt's learn_bpe would adopt on the documents
    corpus — operators/text.learn_bpe_merges (per-round corpus-wide
    pair counts, argmax by (count desc, a asc, b asc), min_count 2).
    PLAN-TIME ITERATIVE by documented contract (the ext_dedup_clusters
    class, noted in bench.py): the result of an iterative algorithm is
    a materialized artifact — 3 argmax collects of ONE row each, never
    corpus data. The DuckDB oracle replays all 3 rounds UNROLLED —
    segmentation as the same two-space symbol rendering, re-segmented by
    the previous rounds' winners through scalar-subquery replace()s — so
    a wrong pair count, tie-break, or chain application order breaks the
    value hash. Output: (rank, a, b).

    Memoized in _session_cache like the other eager plan-time builds
    (ADVICE r13): every plan CONSTRUCTION (bench prepare, plan_report,
    oracle check) would otherwise re-pay the 3 corpus aggregations."""
    key = ("bpe_learn", sf_dir)
    cache = _session_cache(spark)
    with _ANN_INDEX_BUILD_LOCK:
        if key not in cache:
            docs = load_table(spark, sf_dir, "documents").select("text")
            cache[key] = X.learn_bpe_merges(docs, n_merges=3, min_count=2)
    merges = cache[key]
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )


def ext_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window exact substring dedup signal (r13) — the third dedup
    granularity, between document-level (ext_dedup_exact) and line-level
    (ext_dedup_lines): per document, how many of its k-token windows
    (k=5) occur ANYWHERE else in the corpus (including its own repeats) —
    the Lee et al. 2022 'Deduplicating Training Data' span-dedup signal
    (arXiv:2107.06499; their 50-token suffix-array spans, here as the
    rolling k-token window form a shuffle engine expresses naturally).
    Output: (doc_id, n_windows, n_dup_windows) exact integers — the dup
    RATIO is left to the consumer (the ratio-metrics invariant).

    Scale shape — the unique-complement form (r17 optimization round,
    wave 8; was the commonness join pattern): windows are positional
    k-gram shingles (operators/dedup._shingle_array — the zip_with form,
    duplicates kept; short docs contribute one whole-text window, the
    contamination convention), hashed to 8-byte xxhash64 (r17 fast lane,
    was md5-hash60) AS A COLUMN OP below the first exchange. Window
    identity is the hash BY CONTRACT, mirrored in the oracle (the
    move-together rule — the DuckDB XXH64 chain prices per DISTINCT
    shingle, joined back by string).

    The old shape derived the window stream TWICE (once feeding the freq
    aggregate, once as the join probe — two full tokenize+shingle+hash
    Generate passes) and joined them corpus-wide on h. The identity
    n_dup(doc) = n_windows(doc) − #windows-with-corpus-count-1-owned-by-
    doc deletes both: a window occurrence either repeats somewhere
    (tot ≥ 2) or is globally unique (tot == 1), and a unique window's
    single occurrence pins its owning doc, so min(doc_id) IS the owner —
    an all-numeric agg buffer (HashAggregate, no demotion). One Generate
    pass, one partial-agg'd ≤|distinct h| exchange (hot boilerplate
    windows still collapse map-side), one ≤|docs| owner rollup, and
    n_windows(doc) comes from a split-free regexp_count scan
    (#\\s+-separators + 1 ≡ split(trim(text), '\\s+', -1) cardinality,
    limit -1 keeping trailing empties — greatest(n_tokens − 4, 1) is
    exactly the exploded-window count incl. the short-doc whole-text
    window). The large-large h join and its broadcast guard are GONE —
    at 100 TB the old fallback was a full window-stream shuffle."""
    from flink_cdc_multi_spark.operators.dedup import (
        _shingle_array,
        _token_barrier,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = _token_barrier(docs, "doc_id", "text")
    w = (
        tok.select(F.col("id").alias("doc_id"),
                   F.explode(_shingle_array(5)).alias("s"))
        .select("doc_id", F.xxhash64(F.col("s")).alias("h"))
    )
    uniq = (
        w.groupBy("h")
        .agg(F.count("*").alias("tot"), F.min("doc_id").alias("owner"))
        .filter(F.col("tot") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count("*").alias("n_uniq"))
    )
    if _local_input_bytes(sf_dir, "documents") <= _COMMONNESS_BCAST_BYTES:
        uniq = F.broadcast(uniq)
    else:
        # doc-cardinality side of a doc-keyed left join: shuffled-hash,
        # never a full-corpus sort-merge (the filtered-fact-join rule)
        uniq = uniq.hint("shuffle_hash")
    base = docs.select(
        "doc_id",
        F.greatest(
            F.regexp_count(F.trim(F.col("text")), F.lit(r"\s+")) + F.lit(1) - F.lit(4),
            F.lit(1),
        ).cast("bigint").alias("n_windows"),
    )
    return (
        base.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            (F.col("n_windows") - F.coalesce(F.col("n_uniq"), F.lit(0)))
            .cast("bigint").alias("n_dup_windows"),
        )
    )


def ext_dedup_spans_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL (r14, VERDICT r13 item 3): ext_dedup_spans upgraded
    from signal to surgery — operators/dedup.drop_duplicate_spans cuts
    every non-canonical occurrence of a duplicated 5-token window out of
    the text (canonical = globally first by (doc_id, pos); the Lee et
    al. 2022 exact-substring removal, arXiv:2107.06499 §3). Output:
    (doc_id, n_tokens, n_removed, cleaned) — exact integers plus the
    cleaned text, so the value hash pins the canonical-selection
    tie-break, the overlapping-span position union, AND the rebuilt
    string. Topology: one window stream repartitioned on h,
    freq aggregate riding that exchange, sort-free in-partition SHJ
    probe + doc-keyed SHJ rebuild; the freq side never broadcasts."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return D.drop_duplicate_spans(docs, id_col="doc_id", text_col="text", n=5)


# Registry hygiene note (r13, VERDICT r12 item 8): the signature-only
# gated queries ext_dedup_minhash_md5 / ext_dedup_simhash_md5 were
# RETIRED — they gated strict sub-stages (minhash_signatures_md5 /
# simhash_md5) of the PAIR queries ext_dedup_minhash / ext_dedup_simhash,
# which run the same signature code inside their oracles, so a signature
# bug still fails the gate; the trim keeps the 50-query driver window's
# worst-case staleness at <= 2 rounds as the registry grows. Their
# driver-green history lives in CORRECTNESS_r04-r12.


# -- similarity search ------------------------------------------------------


def ext_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for the first 20 vectors against the
    rest of the corpus (broadcast queries; corpus never shuffles)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    # dim passed explicitly: the oracle's len(embedding)=64 contract, not
    # inferred from the collected queries (ADVICE r11)
    return S.brute_force_topk(corpus, queries, k=3, dim=64)


def ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 with a deterministic, engine-portable coarse
    quantizer (centroids = corpus vectors 20..35; integer-quantized L2 for
    cell/probe choice) — oracle-checked, unlike the kmeans ivf_topk whose
    model is engine-local. Same output shape as ext_ann_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    centroids = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
    return S.ivf_topk_fixed(corpus, queries, centroids, k=3, n_probe=4)


def ext_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (round 11): 8 subspaces of 8 dims,
    codebooks = sub-vectors of corpus vectors 20..35 (the ext_ann_ivf
    deterministic-model idiom), asymmetric-distance scan over the codes.
    Fully oracle-checked INCLUDING the integer ADC distance column —
    encode ties, LUT arithmetic, and ranking replay bit-exactly in
    DuckDB. PQ is the memory side of the ANN scale story (ivf prunes
    work, pq compresses state to m bytes/vector); see
    operators/similarity.pq_topk_fixed."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    codebook = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
    return S.pq_topk_fixed(corpus, queries, codebook, m=8, k=3)


def ext_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-3 (round 11): the canonical billion-scale composition —
    coarse cells (centroids = vectors 20..35) prune each query to 4
    probed cells; PQ codes (codebooks = sub-vectors of vectors 36..51)
    score the surviving candidates through integer ADC LUT gathers.
    Fully oracle-checked including the ADC distance: cells, codes, probe
    order, and ranking are all deterministic integer arithmetic. See
    operators/similarity.ivf_pq_topk_fixed for the one-corpus-pass /
    broadcast-probe / no-corpus-shuffle plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    centroids = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
    codebook = emb.filter((F.col("vec_id") >= 36) & (F.col("vec_id") < 52))
    return S.ivf_pq_topk_fixed(
        corpus, queries, centroids, codebook, m=8, k=3, n_probe=4
    )


def ext_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ top-3 (r12): the textbook FAISS composition — PQ
    encodes v − centroid[cell] and ADC scores through per-(query, cell)
    residual LUTs. Same models, storage, and candidate stream as
    ext_ann_ivfpq; finer effective quantization (residuals are small).
    Still exact int64 arithmetic end to end, so the full encode → LUT →
    rank pipeline replays bit-exactly in the DuckDB oracle. Recall
    characterization in PERF.md r12."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    centroids = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
    codebook = emb.filter((F.col("vec_id") >= 36) & (F.col("vec_id") < 52))
    return S.ivf_pq_topk_fixed(
        corpus, queries, centroids, codebook, m=8, k=3, n_probe=4, residual=True
    )


def ext_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once/serve-many IVF-PQ (r12, VERDICT r11 item 1): same
    models, same integer arithmetic, same results as ext_ann_ivfpq — but
    the corpus encode pass runs ONCE into a persisted index
    (operators/similarity.write_ann_index; memoized per (session,
    sf_dir) like ext_dedup_clusters) and the query serves from the
    (nid, cell, codes) parquet: ZERO corpus scans at query time
    (plan-pinned in tests/test_extensions.py). This is the 100 TB shape:
    a billion-vector index is built once and amortized over every later
    query batch, exactly like FAISS add-once/search-many. The index
    build is eager plan-time work by documented contract (bench.py
    eager-plans note). Oracle: identical to ext_ann_ivfpq — the
    persisted codes are bit-identical to the inline encode."""
    key = ("ann_index_ivfpq", sf_dir)
    # build under a process-wide lock (ADVICE r12): the pid-keyed path
    # fixes cross-process races, the lock fixes two threads of ONE
    # process both entering write_ann_index and overwriting the same
    # dir mid-write/mid-read; second entrant sees the cache hit and
    # returns without touching the filesystem. The cache dict itself is
    # installed under the same lock (_session_cache, taken and released
    # BEFORE this block — the lock is not reentrant) — two first-callers
    # racing the getattr would otherwise each install their own dict and
    # both build (r13 review finding).
    cache = _session_cache(spark)
    with _ANN_INDEX_BUILD_LOCK:
        if key not in cache:
            import hashlib
            import tempfile

            emb = load_table(spark, sf_dir, "embeddings")
            corpus = emb.filter(F.col("vec_id") >= 20)
            centroids = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 36))
            codebook = emb.filter((F.col("vec_id") >= 36) & (F.col("vec_id") < 52))
            # machine-tmp path keyed by (pid, sf_dir): rebuilt once per
            # session so a driver-regenerated testdata vintage can never
            # serve stale codes, and per-PROCESS so two concurrent gate/bench
            # runs can't race each other's overwrite mid-read
            tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
            path = _own_tmp_dir(os.path.join(
                tempfile.gettempdir(), f"fcm_annidx_{os.getpid()}_{tag}"
            ))
            S.write_ann_index(corpus, centroids, codebook, path, m=8)
            cache[key] = path
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ivf_pq_topk_indexed(spark, cache[key], queries, k=3, n_probe=4)


def _trained_index_path() -> str:
    """Artifact dir for the gated TRAINED IVF-PQ index. pid-keyed like
    ext_ann_ivfpq_indexed's path (two concurrent gate/bench processes
    can't race each other's overwrite) but sf-INDEPENDENT, because the
    DuckDB oracle must name it as a literal inside a static SQL string
    generated at oracle_sql() time, when no sf_dir exists yet. One
    process therefore holds ONE trained artifact at a time; the query
    rebuilds it whenever sf_dir changes (gate/bench runs are single-sf,
    and the gate's per-query Spark-then-DuckDB order guarantees the
    artifact the oracle reads is the one the query just built)."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"fcm_annidx_trained_{os.getpid()}"
    )


def ext_ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY-TRAINED IVF-PQ, gated cross-engine (r14, VERDICT r13 item
    2): train_ivf_centroids (seeded kmeans++/Lloyd coarse quantizer) +
    train_pq_codewords (per-subspace kmeans on THEIR residuals) — the
    FAISS train/add/search pipeline whose recall the r13 table measured
    (+78% recall@3 over fixed data-vector models, PERF.md) — persisted
    through write_ann_index and SERVED from the artifact.

    kmeans itself is not oracle-able (driver-local float iteration), but
    it doesn't need to be: the models land on the int64 LSH_QUANT grid
    and persist VERBATIM as centroids_q/codebook_q parquet, so the
    DuckDB oracle loads the same artifact and replays the entire
    distributed half — residual encode of the corpus, probe selection,
    residual ADC LUT, top-k — bit-for-bit. A wrong encode, a
    re-residualized trained codebook (the r13 scale-flag contract), or a
    probe tie-break lands in the value hash. Training is eager plan-time
    work by documented contract (bench.py eager-plans note), memoized
    per (session, sf_dir)."""
    cache = _session_cache(spark)
    path = _trained_index_path()
    with _ANN_INDEX_BUILD_LOCK:
        if cache.get("ann_trained_sf") != sf_dir:
            _own_tmp_dir(path)
            emb = load_table(spark, sf_dir, "embeddings")
            corpus = emb.filter(F.col("vec_id") >= 20)
            tc = S.train_ivf_centroids(corpus, n_cells=16, dim=64)
            tw = S.train_pq_codewords(
                corpus, None, m=8, n_codewords=16, trained_centroids=tc
            )
            S.write_ann_index(
                corpus, None, None, path, m=8, residual=True,
                trained_codewords=tw, trained_centroids=tc,
            )
            # recorded AFTER a successful build: a failed build retries
            cache["ann_trained_sf"] = sf_dir
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ivf_pq_topk_indexed(spark, path, queries, k=3, n_probe=4)


def ext_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-3, oracle-checked: the portable
    md5-parity signature makes the candidate sets integer-identical across
    engines, and the scoring fold is the one ext_ann_topk already
    hash-matches with. Same output shape as ext_ann_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    return S.lsh_topk(corpus, queries, dim=64, k=3, n_planes=10)


# -- text analysis ----------------------------------------------------------


def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features as exact integers: token count, distinct tokens,
    non-whitespace chars, BPE estimate."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    t = F.col("text")
    toks = X.tokens(t)
    return docs.select(
        "doc_id",
        # bigint casts: DuckDB len()/length() yield BIGINT; keep schemas
        # identical under a type-strict compare
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.length(F.regexp_replace(t, r"\s", "")).cast("bigint").alias("n_nonspace_chars"),
        X.bpe_token_estimate(t).alias("bpe_est"),
    )


def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation: quality gate (token range + TTR ≥
    0.5 in exact integer arithmetic + language allowlist) THEN exact dedup
    (min doc_id per content digest) — the standard clean-then-dedup corpus
    pass, end to end in one plan. Filters are pushdown-able; the dedup
    shuffle only carries the survivors."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = X.tokens(t)
    gated = docs.filter(
        F.col("lang").isin("en", "de")
        & F.size(toks).between(20, 120)
        & (F.size(F.array_distinct(toks)) * 2 >= F.size(toks))  # TTR >= 0.5
    )
    return (
        D.exact_dedup(gated, ["text"], "doc_id")
        .select("doc_id", "lang", F.size(toks).cast("bigint").alias("n_tokens"))
    )


def ext_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", X.lang_id(F.col("text")).alias("lang_pred"))


def ext_text_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token accounting per (lang, source) — the partial-agg
    shuffle is |groups|, independent of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.sum(X.token_count(F.col("text"))).alias("total_tokens"),
            F.sum(X.bpe_token_estimate(F.col("text"))).alias("total_bpe_est"),
            F.count("*").alias("n_docs"),
        )
    )


# -- additional relational coverage (SURVEY.md §2.7-2.8: rollup/windows
# "come free from Spark SQL" — exercised and oracle-checked here) -----------


def ext_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping-sets family). NULL group markers are
    real NULLs in both engines; grouping_id disambiguates.

    Scale (r17 optimization round, guide §2.3 aggregate-before-expand):
    Catalyst compiles rollup(a, b) to an Expand — a |levels|× row
    fan-out of its INPUT. Rolling up the raw scan expands every lineitem
    row 3× before the partial agg; aggregating to the (flag, status)
    base FIRST and rolling up the base moves the Expand onto a
    ≤|groups|-row stream (plan diff: Expand input |lineitem| → |groups|,
    one extra — group-count-sized — exchange). Bit-equal: count/sum are
    decomposable, l_quantity is integral-valued (TPC-H 1..50) so the
    double re-association is IEEE-exact, and a real NULL group value
    stays a distinct base group that rollup's own Expand handles
    (grouping_id disambiguates exactly as before)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("_n"), F.sum("l_quantity").alias("_sq")
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_n").alias("n"),
            F.round(F.sum("_sq"), 2).alias("sum_qty"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


def ext_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates per key: cumulative count + running max and lag
    over the monotone offset — the window family CDC consumers use for
    ordered replay analytics. Integer outputs only (no float accumulation
    ordering concerns)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(run).cast("bigint").alias("seq_no"),
        F.max("event_id").over(run).alias("running_max_id"),
        F.lag("event_id", 1).over(w).alias("prev_id"),
    )


def ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (classic lag + cumulative-flag pattern):
    a new session starts when the gap to the previous event of the same
    user exceeds 30 minutes. Output: per-session row counts and integer
    bounds.

    Pinned NULL contract: NULL-ts rows are excluded on both sides — a
    NULL ORDER BY key sorts NULLS FIRST in Spark and NULLS LAST in
    DuckDB, which moves the row to a different session (caught by the
    adversarial gate, r7). NULL user_id is KEPT: both engines treat NULL
    as one PARTITION BY / GROUP BY group."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_millis(F.col("ts")).alias("ts_ms"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap_ms = 30 * 60 * 1000
    new_session = (
        F.col("ts_ms") - F.lag("ts_ms", 1).over(w) > gap_ms
    ).cast("int")
    sess = ev.withColumn("new_s", F.coalesce(new_session, F.lit(0))).withColumn(
        "session_no",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


# Interval-join bin width (ext_events_interval_join): 1 hour in ms.
_IJOIN_BUCKET_MS = 3_600_000


def ext_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned interval join (r16) — the scalable RANGE-join pattern next
    to ext_asof_join's point-in-time lookup: for every user session
    (the ext_sessionize gap rule), count ALL events — any user — whose
    timestamp falls inside the session's [start, end] (a concurrency /
    system-load measure per session). A naive `ON ts BETWEEN s AND e`
    non-equi join plans as BroadcastNestedLoopJoin — quadratic, the
    100 TB killer — so intervals explode to the 1-hour buckets they
    cover (F.sequence over bucket ids; the fan-out is PROVABLY bounded:
    a session's span is ≤ gap·n_events by the 30-minute gap rule, so
    even a hostile extreme timestamp can only open a new SESSION, never
    a monster sequence — pinned by the adversarial sweep's pre-epoch/
    extreme rows) and the probe joins EQUI on its single bucket id, with
    the exact containment as a post-join filter. Each event lands in
    exactly ONE bucket, so no pair is double-counted and no dedup
    exchange exists. DuckDB's oracle runs the same join as a plain
    non-equi predicate (its IEJoin handles it natively at gate scale) —
    an independent formulation, like asof's.

    NULL contracts pinned by the adversarial sweep: NULL-ts events are
    excluded from BOTH sides (sessionize's rule); NULL user_id remains
    one session group on both engines. Output: (user_id, session_no,
    n_events, n_concurrent) — n_concurrent includes the session's own
    events by contract.

    Scale shape: sessions are a window over the user partition (high
    cardinality, no hot key); the join is one equi exchange on the
    int64 bucket id — peak-hour buckets are the skew to watch, which is
    exactly what AQE skew-join splits (and bucket width is the knob)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id", "event_id", F.unix_millis(F.col("ts")).alias("ts_ms")
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap_ms = 30 * 60 * 1000
    new_session = (
        F.col("ts_ms") - F.lag("ts_ms", 1).over(w) > gap_ms
    ).cast("int")
    sess = (
        ev.withColumn("new_s", F.coalesce(new_session, F.lit(0)))
        .withColumn(
            "session_no",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("ts_ms").alias("s_start"),
            F.max("ts_ms").alias("s_end"),
        )
    )
    # r17: the binned join is the operators/intervals.interval_join API
    # now (promoted per VERDICT r16 item 5 — same plan). Sessionize's
    # gap rule structurally bounds the span (≤ gap·n_events), so no
    # explicit bucket limit is needed here; aggregate-before-join stays
    # the caller pattern: events with identical (bucket-implied) ts
    # collapse to one weighted probe row BEFORE the join, so the join
    # fan-out is |distinct timestamps| x |intervals|, not |events| x
    # |intervals| — exact (n_concurrent = Σ cnt) and the difference is
    # enormous on temporally dense streams (sf10: 2.58B joined pairs →
    # 26M; 55.3 → 4.1 s, PERF.md r16)
    from flink_cdc_multi_spark.operators.intervals import interval_join

    probe = (
        ev.select(F.col("ts_ms").alias("p_ts"))
        .groupBy("p_ts")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        interval_join(
            sess, probe, "s_start", "s_end", "p_ts",
            bucket_width=_IJOIN_BUCKET_MS,
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.max("n_events").alias("n_events"),
            F.sum("cnt").cast("bigint").alias("n_concurrent"),
        )
    )


# -- CDC history / point-in-time / sampling ---------------------------------


def ext_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history materialization from the CDC change log — the natural
    dual of q07's latest-image: instead of ONE current row per key, every
    change becomes a version with [valid_from, valid_to) bounds over the
    monotone offset; the current version has valid_to NULL. A CDC lake
    needs both (audit/history queries vs current-state queries); the
    reference only materializes the log (SURVEY §2.6), so this is a
    first-class rebuild extension.

    Scale: one shuffle by key + per-key sort for lead() — the same cost
    shape as ordered replay, but distributed across keys instead of the
    reference's parallelism-1."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    nxt = F.lead("event_id", 1).over(w)
    return ev.select(
        "user_id",
        F.col("event_id").alias("valid_from"),
        nxt.alias("valid_to"),
        "event_type",
        "value",
        nxt.isNull().cast("bigint").alias("is_current"),
    )


def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: attach to every 'purchase' event the
    most recent prior 'click' of the same user — the feature-at-label-time
    join training-data pipelines need (no leakage from the future).

    Scale: the union + last(ignoreNulls) ordered-window form — ONE shuffle
    by key and a per-key merge — rather than a range join (quadratic
    blowup per key) or a per-label correlated lookup. The DuckDB oracle
    uses its native ASOF JOIN, so the semantics are implemented
    independently on each engine."""
    ev = load_table(spark, sf_dir, "events")
    feats = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        F.col("event_id").alias("feat_event_id"),
        F.col("value").alias("feat_value"),
        F.lit(0).alias("is_label"),
    )
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.lit(None).cast("bigint").alias("feat_event_id"),
        F.lit(None).cast("double").alias("feat_value"),
        F.lit(1).alias("is_label"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = feats.unionByName(labels).select(
        "user_id",
        "event_id",
        "is_label",
        F.last("feat_event_id", ignorenulls=True).over(w).alias("click_event_id"),
        F.last("feat_value", ignorenulls=True).over(w).alias("click_value"),
    )
    return merged.filter(F.col("is_label") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        "click_event_id",
        "click_value",
    )


def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates applied
    through a portable content hash (md5 of the id), so the sample is
    byte-stable across runs, engines, partitionings, and cluster sizes —
    reproducible dataset curation with no RNG state to checkpoint.

    Scale: pure Column expressions in one codegen stage over a pruned
    scan; zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 20)
        .when(F.col("lang") == "de", 50)
        .otherwise(80)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


def ext_split_by_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split assignment (r16): the split
    bucket is keyed on the md5 digest of the TEXT (the exact_dedup
    identity, NULL folded to '' by the same contract), never the doc_id
    — so every byte-identical copy of a document lands in the SAME split
    BY CONSTRUCTION. Splitting on doc_id (the naive form) sends exact
    duplicates across the train/test boundary, which is measured test
    contamination (Lee et al. 2022 'Deduplicating Training Data...',
    arXiv:2107.06499 §5 find near-dup train/test overlap inflates eval);
    content keying makes the leak structurally impossible rather than
    something to audit after the fact. 80/10/10 by hash bucket.

    Output per split: n_texts (distinct contents) and n_docs (raw rows),
    so the consumer sees both the deduplicated and raw split sizes.

    Scale: assignment is scan-local (one md5 per row); the rollup is a
    partial-agg'd exchange on the 16-byte digest (the exact_dedup
    shuffle shape) followed by a 3-row reduce — deliberately two stacked
    aggregations instead of one groupBy with COUNT + COUNT(DISTINCT),
    which would compile to Expand's |aggs|× row fan-out (the q21 lesson,
    CLAUDE.md)."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.coalesce(F.col("text"), F.lit("")))
    bucket = (
        F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per_text = (
        docs.select(split.alias("split"), digest.alias("d"))
        .groupBy("split", "d")
        .agg(F.count("*").alias("copies"))
    )
    return (
        per_text.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_texts"),
            F.sum("copies").cast("bigint").alias("n_docs"),
        )
    )


def ext_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware coreset selection (r16): exact k-center greedy
    (farthest-point) picks over the embedding corpus — the third
    sampling axis next to stratified (rate-per-group) and mixture
    (share-per-source): maximin selection keeps the most MUTUALLY
    DISTANT examples, the standard coreset recipe for curating a small
    high-coverage training subset (Sener & Savarese 2018,
    arXiv:1708.00489). Output: (pick_no, vec_id, min_dist_sq) — the
    exact int64 squared L2 grid distance of each pick to its nearest
    earlier pick (pick 1 = min vec_id, dist 0), so the sequence doubles
    as the corpus' covering-radius profile.

    PLAN-TIME ITERATIVE by documented contract (the ext_text_bpe_learn
    class, noted in bench.py): greedy selection is sequential in k, so
    the k=8 rounds run at plan construction — each is one mapInPandas
    pass reducing every partition to a single candidate row (numpy
    int64 kernel against the ≤ 8 broadcast centers) plus a
    #partitions-row collect; the corpus is never shuffled or collected.
    Memoized in _session_cache. Exactness: the operators/similarity.
    kcenter_greedy int64-grid contract (floor(float64·2^20) — every step
    IEEE-exact), replayed by the DuckDB oracle's 8 UNROLLED greedy
    stages, so a wrong distance, tie-break, or exclusion rule breaks the
    value hash."""
    key = ("kcenter", sf_dir)
    cache = _session_cache(spark)
    with _ANN_INDEX_BUILD_LOCK:
        if key not in cache:
            emb = load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < 400
            )
            cache[key] = S.kcenter_greedy(emb, k=8, dim=64)
    picks = cache[key]
    return spark.createDataFrame(
        [(i + 1, vid, d) for i, (vid, d) in enumerate(picks)],
        "pick_no long, vec_id long, min_dist_sq long",
    )


def ext_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: hit TARGET per-source mixture shares
    (the 'mix N% web, M% code' pretraining knob) by scaling the whole
    corpus to the largest size where every source can still fill its
    share, then keeping a deterministic md5-bucket slice of each source.

    Exact-integer math end to end (engine-portable, no RNG): shares are
    integer percents p_s derived from the source id; n_out =
    min_s(cnt_s·100 DIV p_s) is the achievable corpus size; per-source
    keep threshold = n_out·p_s·M DIV (100·cnt_s) over M=1e6 md5 buckets
    of the doc id — byte-stable across runs, engines, partitionings.

    Scale shape: per-source counts are ONE partial-aggregated groupBy
    over a source-column-pruned scan (tiny result); the min rides a
    broadcast 1-row agg; thresholds broadcast-join back onto the corpus
    scan, which is filtered map-side — the corpus itself never shuffles.
    BIGINT range holds to ~9e10 docs/source (cnt·1e8 < 2^63). The
    realized share tracks the target at md5-bucket granularity (±1/M),
    exactly like any hash-rate sampler."""
    docs = load_table(spark, sf_dir, "documents")
    m = 1_000_000
    p = (
        F.coalesce(
            F.regexp_extract(F.col("source"), r"(\d+)$", 1).try_cast("int"),
            F.lit(0),
        )
        % 4
    ) * 2 + 2
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .withColumn("p", p.cast("bigint"))
    )
    nout = counts.agg(F.expr("MIN(cnt * 100 DIV p)").alias("n_out"))
    thr = counts.crossJoin(F.broadcast(nout)).select(
        "source",
        F.expr(f"(n_out * p * {m}) DIV (100 * cnt)").alias("thr"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % m
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(thr), "source")
        .filter(F.col("bucket") < F.col("thr"))
        .select("doc_id", "source")
    )


def ext_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-prep pass 2 (after vocab_topk's unigram pass): top-30
    adjacent token pairs by corpus count — the highest-count pair is
    exactly what the first BPE merge step would fuse. (count DESC, pair
    ASC) is a total order, so the top-k SET is engine-independent.

    Scale: pair construction is DOC-LOCAL (r10) — one zip_with over the
    two shifted token slices behind the tokenize barrier, exploded
    straight into the partial-agg count. The previous posexplode +
    per-doc lead() window hash-partitioned AND sorted the full token
    stream (50M rows at sf10) just to look one element ahead inside an
    array each row already held. sf10 profile (26.6M pairs): window form
    2.34 s, this form 2.21 s — the exchange was NOT the bottleneck at
    local[32] (tokenize 0.7 s + interpreted per-pair concat 1.2 s +
    count 0.14 s over 931 distinct pairs dominates either way; MLlib
    NGram's Scala UDF measured 2.56 s, rejected) — but the window form
    shuffles the full token stream, which is the term that grows with
    cluster size, so the doc-local form is the one that holds at 100 TB.
    Partial-agg count per pair, TakeOrderedAndProject top-k — no
    exchange before the count, no global sort."""
    from flink_cdc_multi_spark.operators.text import token_barrier

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = token_barrier(docs, "doc_id", "text")
    n_pairs = F.size("toks") - 1
    pair_arr = F.when(F.size("toks") < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice("toks", 1, n_pairs),
            F.slice("toks", 2, n_pairs),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    return (
        tok.select(F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(30)
    )


def ext_text_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal: per document, the exact-integer
    pair (sum of corpus-wide term frequencies over its token occurrences,
    token count) — high mean commonness flags boilerplate/templates, low
    flags noise/gibberish; a standard cheap stand-in for model-based
    quality scores.

    Scale shape — the ext suite's one LARGE-LARGE equi-join: a 100 TB
    corpus's term-frequency table is itself huge (no broadcast), so both
    sides hash-partition on the join key and sort-merge/hash join at
    full width; the per-doc rollup is one more partial-aggregated
    shuffle. Since r7 (VERDICT item 4) the join key is an 8-byte token
    hash, never the token STRING: the occurrence stream through the join
    shuffle is (doc_id, h) = 16 bytes/row, the frequency build's shuffle
    is (h, cnt). Since r17 the hash rides the xxhash64 fast lane (ONE
    codegen JVM call; the md5-hash60 form paid md5 + base-16 conv per
    occurrence — ABAB 1.44x at sf1, PERF.md "r17 OPTIMIZATION wave
    7"), replayed bit-exact by the generated DuckDB XXH64 chain per
    DISTINCT token.
    Term frequencies are hash-grouped counts BY CONTRACT, mirrored in
    the DuckDB oracle, so a 64-bit collision cannot diverge the engines
    (the shingle-distinct contract pattern). The exploded token stream
    is deliberately NOT
    cached even though two branches consume it (frequency build + join
    probe): token rows are corpus-sized, so re-running the pruned
    scan+explode is cheaper than holding the token stream resident — the
    OPPOSITE trade from pack_offsets, whose shared frame is 16 bytes/doc
    (see PERF.md).

    Broadcast-when-small (VERDICT r10 item 6): when the documents input
    is a LOCAL file small enough that the frequency table is provably
    broadcastable (distinct hashes <= total tokens <= UNCOMPRESSED source
    bytes — footer total_byte_size, since parquet text compresses 3-10x
    and on-disk size would under-count the bound; ADVICE r11), hint
    ``broadcast(freq)`` — the corpus-sized token stream then never
    shuffles on ``h``; only the freq build pays an exchange. The guard is
    driver-side footer metadata (no Spark job, the plan stays lazy) and
    fails CLOSED: remote/unknown inputs or anything over
    ``SPARK_GRAFT_COMMONNESS_BCAST_BYTES`` (default 64 MiB) keep the
    shuffle plan, so a 100 TB corpus can never inherit a broadcast that
    OOMs the executors."""
    from flink_cdc_multi_spark.operators.text import widen_narrow_scan

    docs = load_table(spark, sf_dir, "documents")
    h = F.xxhash64("token")
    tok = (
        # the per-token hash runs below the first exchange: widen narrow
        # scans so it gets full parallelism (see widen_narrow_scan)
        widen_narrow_scan(docs.filter(F.trim(F.col("text")) != ""))
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .select("doc_id", h.alias("h"))
    )
    # r17 optimization round wave 9, candidate MEASURED AND REJECTED: a
    # (doc_id, h) -> c pre-aggregate whose exchange both branches share
    # (the tfidf wave-9 shape; Σ_occ tf ≡ Σ_h c·tf keeps every integer)
    # deletes the second tokenize pass — but LOSES 0.71x at sf10 (ABAB,
    # PERF.md "r17 OPTIMIZATION wave 9"; 0.88-1.03x at smaller SFs):
    # unlike tfidf, no (doc, token) exchange exists here to reuse — the
    # candidate ADDS one, and post-wave-7 the duplicated
    # per-occurrence work is a single codegen xxhash64, cheaper than
    # shuffling |distinct (doc, h)| rows. The two-pass broadcast form
    # below stays the winner (the docstring's not-cached trade, now
    # measured from both sides).
    freq = tok.groupBy("h").agg(F.count("*").alias("tf"))
    if _local_input_bytes(sf_dir, "documents") <= _COMMONNESS_BCAST_BYTES:
        freq = F.broadcast(freq)
    return (
        tok.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("tf_sum"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
        .select("doc_id", "tf_sum", "n_tokens")
    )


# Keywords emitted per document by ext_text_tfidf.
_TFIDF_TOP_K = 5


def ext_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (r16): the classic
    sparse-retrieval / topic-labeling primitive next to
    ext_text_commonness (which rolls corpus frequency UP per doc; this
    ranks terms WITHIN each doc). Output: the top-k (k = _TFIDF_TOP_K)
    terms of every document as (doc_id, rnk, token, tf, df) — term
    frequency and document frequency as exact integers per the ratio rule.

    Rank contract (cross-engine exact, no libm): classic tf-idf ranks by
    tf·ln(N/df); ln is libm- not IEEE-specified and must never execute
    inside either engine (the _HLL_LC rule). This operator's contract is
    the LINEAR-IDF variant tf·(N/df) — within one document N is a
    constant, so the rank key reduces to tf/df, ONE IEEE-754 division
    (exactly specified, bit-identical in Spark and DuckDB), ties broken
    by token ASC (token strings are unique within a doc, so the order is
    total). Production swaps ln back in per taste; the plan is identical.

    Scale shape: one scan → explode → partial-agg'd exchange on
    (doc_id, token) builds tf as a pure HashAggregate (grouping by the
    token STRING keeps the agg buffer primitive — carrying the string
    through min() instead demotes the whole occurrence stream to a
    SortAggregate, measured in this plan's first draft); the xxhash64
    h (r17 fast lane, was md5-hash60) is projected AFTER the aggregate,
    so the hash runs once per distinct (doc, term) row, never per
    occurrence. df is a SECOND aggregate over those tf rows keyed by h,
    and the tf↔df join is on the 8-byte h BY CONTRACT (the commonness
    collision-proof parity pattern — a 64-bit collision folds df
    identically in both engines).
    Same broadcast-when-small guard as commonness: distinct hashes ≤
    total tokens ≤ uncompressed source bytes, so a provably small df
    table is broadcast and the doc×term stream never shuffles on h.
    The top-k is a row_number window partitioned by doc_id — unlike the
    CDC materializations (max_by rule) the partition key here is the
    HIGH-cardinality doc_id, so there is no hot-key skew wall; Spark's
    WindowGroupLimit additionally caps each map task to k rows per doc
    BEFORE the window exchange (plan-pinned)."""
    from flink_cdc_multi_spark.operators.text import widen_narrow_scan

    docs = load_table(spark, sf_dir, "documents")
    h = F.xxhash64("token")
    tok = (
        widen_narrow_scan(docs.filter(F.trim(F.col("text")) != ""))
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
    )
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", h)
    )
    # sum(when(tf >= 1, 1)), NOT count("*") (r17 optimization round,
    # wave 9): tf >= 1 always holds, so the value IS the row count — but
    # count("*") (and count("tf"), which Catalyst rewrites to count(1)
    # because tf is provably non-null) lets column pruning drop tf's
    # count buffer from this branch's partial aggregate, de-identifying
    # the two (doc_id, token) exchange subtrees — Catalyst then plans a
    # SECOND full tokenize+explode+distinct pass just for df
    # (plan-audited: two split Generates, two |distinct(doc,term)|-row
    # exchanges). The guarded sum must READ tf, keeping the subtrees
    # byte-identical, so the exchange is built once and reused at
    # runtime (ReusedExchange, pinned by the plan test).
    dfq = tf.groupBy("h").agg(
        F.sum(F.when(F.col("tf") >= 1, F.lit(1))).alias("df")
    )
    if _local_input_bytes(sf_dir, "documents") <= _COMMONNESS_BCAST_BYTES:
        dfq = F.broadcast(dfq)
    win = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df").cast("double")).desc(),
        F.col("token").asc(),
    )
    return (
        tf.join(dfq, "h")
        .withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _TFIDF_TOP_K)
        .select(
            "doc_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
        )
    )


def ext_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (the storage/serving compression pass:
    4 bytes/dim → 1): per vector, symmetric scale = max|x|, q_i =
    floor(x_i·127/scale + 0.5). Emits exact integer summaries of the
    quantized vector (sum/min/max/nonzero count) — auditable without
    hashing arrays, and any quantizer regression shifts the sums.

    Engine parity: floor(x·127/m + 0.5) is the SAME IEEE op sequence in
    Spark and DuckDB → bit-identical int8 codes (Spark round() is
    HALF_UP, DuckDB round() is half-away — neither is used). Zero
    vectors are dropped by contract (scale 0 → ±inf codes), same rule as
    the cosine paths. Scale shape: pure per-row array lambdas over the
    parquet-materialized embedding column — one codegen-adjacent
    projection, zero shuffles, no barrier needed (the array is already a
    materialized column, not a computed expression)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    qarr = F.transform(
        F.col("_v"), lambda x: F.floor(x * 127 / F.col("_scale") + 0.5)
    ).cast("array<bigint>")
    # Generate barrier on the QUANTIZED array: four summaries read it —
    # without the barrier each would re-run the transform (no CSE across
    # interpreted HOFs). The input embedding needs no barrier: it is a
    # materialized parquet column, not a computed expression.
    quantized = (
        emb.select("vec_id", v.alias("_v"))
        .withColumn("_scale", F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))))
        .filter(F.col("_scale") > 0)
        .select("vec_id", F.explode(F.array(qarr)).alias("_q"))
    )
    return quantized.select(
        "vec_id",
        F.aggregate(
            "_q", F.lit(0).cast("bigint"), lambda s, x: s + x
        ).alias("q_sum"),
        F.array_min("_q").alias("q_min"),
        F.array_max("_q").alias("q_max"),
        F.size(F.filter("_q", lambda x: x != 0)).cast("bigint").alias("q_nonzero"),
    )


# -- multimodal -------------------------------------------------------------


def ext_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary accounting: byte length of each document's content as
    a binary payload (the text column stands in for a media blob)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("bigint").alias("byte_len"),
    )


def ext_multimodal_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header decode end to end: synthesize a deterministic PNG
    blob per document (dims derived from doc_id), push it through the
    Arrow-batched mapInPandas pipeline, and parse format/width/height back
    out of the container bytes (operators/multimodal.parse_image_header —
    no media library). The oracle checks the decoded dimensions against
    the generating arithmetic, so a parser regression breaks the hash."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media": [
                        M.make_tiny_png(int(i) % 640 + 16, int(i) % 480 + 16)
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    feats = M.decode_image_features(media)
    return feats.select(
        "doc_id",
        "format",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "byte_len",
    )


def ext_multimodal_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode end to end (round 6): synthesize a spec-valid
    RGB8 PNG per document — zlib-compressed IDAT, correct CRCs, scanline
    filters cycling through ALL FIVE PNG filter types — then decode it
    back with the stdlib-only pixel decoder (zlib inflate + spec
    unfiltering, operators/multimodal.png_luma_sum) and emit the exact
    integer luma sum + pixel count (ratio rule: never rounded doubles).
    The pixel pattern is closed-form in (doc_id, x, y), so the DuckDB
    oracle recomputes the same integer sums from pure SQL arithmetic —
    a decoder regression (wrong unfilter, wrong channel order, wrong
    stride) breaks the hash. Arrow-batched mapInPandas; the blob never
    leaves the task that created it.

    The id column is REPARTITIONED before the map: the Python pixel
    kernel is the cost center (~0.25 ms/doc) and the small parquet scan
    arrives in one partition, which would serialize the whole decode on
    one core — the shuffle moves 8-byte ids, the repartition moves the
    kernel onto every core (at 100 TB the scan is already wide and the
    exchange collapses to a no-op-sized cost)."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_decode(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            sums, npxs = [], []
            for i in ids:
                blob = M.make_png_rgb(int(i) % 24 + 4, int(i) % 16 + 4, int(i) % 256)
                s, n = M.png_luma_sum(blob)
                sums.append(s)
                npxs.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "luma_sum": pd.Series(sums, dtype="int64"),
                    "n_px": pd.Series(npxs, dtype="int64"),
                }
            )

    return docs.mapInPandas(
        gen_and_decode, "doc_id long, luma_sum long, n_px long"
    )


def ext_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel RESIZE end to end (round 11 — lifts the last image-side
    stub): synthesize the spec-valid RGB PNG per document (the
    ext_multimodal_luma fixture), then run operators/multimodal.
    resize_image_features — full pixel decode + bounded-box targets
    (longest side → 8, floor-integer contract, never upscale) + BOTH
    resample kernels: floor nearest-neighbor and fixed-point
    align-centers bilinear. Everything emitted is an exact integer
    (resized luma sums + the bilinear common denominator — ratio rule),
    and every step is closed-form in (doc_id, x, y), so the DuckDB
    oracle replays decode+resample in pure SQL arithmetic: a wrong
    sample index, a wrong edge clamp, or a wrong weight breaks the hash.

    Scale shape: same as the codec family — repartition 8-byte ids wide,
    Arrow mapInPandas, the blob never leaves the task that created it;
    numpy fancy-indexing resample is O(target pixels) per image and
    linear in cores."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media": [
                        M.make_png_rgb(int(i) % 24 + 4, int(i) % 16 + 4, int(i) % 256)
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    return M.resize_image_features(media, max_dim=8)


def _dhash_fixture_blob(i: int) -> bytes:
    """Deterministic MIXED-FORMAT image blob for doc_id ``i`` (r13,
    VERDICT r12 item 1): doc_id mod 6 picks the container — 0 PNG RGB,
    1 baseline grayscale JPEG (DC-only profile, exact pixels), 2 GIF
    (gray global palette, real LZW), 3 uncompressed 24-bit BMP, 4
    baseline COLOR JPEG (3-component interleaved, DC-only, libjpeg
    fixed-point YCbCr→RGB), 5 4:2:0-SUBSAMPLED color JPEG (Y 2×2 +
    chroma 1×1, box upsampling — the dominant real-corpus form) — each
    with a closed-form pixel pattern the DuckDB oracle replays in pure
    SQL. Python's floored ``%`` keeps negative (adversarial) doc_ids on
    the same positive-mod arithmetic the SQL side wraps explicitly."""
    from flink_cdc_multi_spark.operators import multimodal as M

    f = i % 6
    s = i % 256
    if f == 5:
        w = (i % 2 + 1) * 16  # 4:2:0 geometry: multiples of 16
        h = 16
        nby = (w // 8) * (h // 8)
        nbc = (w // 16) * (h // 16)
        return M.make_jpeg_color_420_dc(
            w, h,
            [(s + 17 * b) % 216 - 108 for b in range(nby)],
            [(s + 7 * c) % 17 - 8 for c in range(nbc)],
            [(s + 11 * c) % 17 - 8 for c in range(nbc)],
        )
    if f in (1, 4):
        w = (i % 3 + 1) * 8  # JPEG geometry: multiples of 8
        h = (i % 2 + 1) * 8
        nb = (w // 8) * (h // 8)
        if f == 1:
            # dc in [-115, 115] → decoded pixel (dc + 128) in [13, 243]:
            # clipping never fires, so pixel = (s + 17·block) % 231 + 13
            return M.make_jpeg_gray_dc(
                w, h, [(s + 17 * b) % 231 - 115 for b in range(nb)]
            )
        # color: Y in [20, 235], |cb|,|cr| <= 8 → RGB offsets <= 15, so
        # the clamp never fires and the oracle replays the fixed-point
        # conversion without CASE branches
        return M.make_jpeg_color_dc(
            w, h,
            [(s + 17 * b) % 216 - 108 for b in range(nb)],
            [(s + 7 * b) % 17 - 8 for b in range(nb)],
            [(s + 11 * b) % 17 - 8 for b in range(nb)],
        )
    w = i % 24 + 4
    h = i % 16 + 4
    if f == 0:
        return M.make_png_rgb(w, h, s)
    if f == 2:
        return M.make_gif_gray(w, h, lambda x, y: (s + 7 * x + 13 * y) % 256)
    return M.make_bmp_rgb(
        w, h,
        lambda x, y: ((s + 3 * x) % 256, (s + 5 * y) % 256, (s + x * y) % 256),
    )


def ext_multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (r12; r13 format-general): dHash56 over
    REAL decoded pixels of a MIXED-FORMAT fixture — PNG, baseline
    grayscale JPEG, GIF, BMP, color JPEG, and 4:2:0-subsampled color
    JPEG blobs by doc_id mod 6
    (_dhash_fixture_blob), decoded through the format dispatcher
    operators/multimodal.decode_pixels, so the image-near-dup primitive
    covers every container the repo can decode (r12 shipped PNG-only —
    a real corpus is mostly 4:2:0 color JPEG). Full decode + NN grid
    sample + neighbor-gradient sign bits, every step exact integer, so
    the DuckDB oracle replays the entire hash per format from
    (doc_id)-closed-form arithmetic — a wrong unfilter, Huffman walk,
    LZW step, BMP row order, fixed-point YCbCr→RGB constant, chroma
    upsample index, sample index, or bit order breaks the value hash. Positive-mod id→dims mapping on BOTH sides so negative
    (adversarial) doc_ids agree across Python and SQL semantics. Scale:
    same as the codec family — repartition 8-byte ids, Arrow
    mapInPandas, blob never leaves its task; compose with
    exact_dedup(dhash) or dhash_pairs (gated as ext_dedup_images) for
    hamming-tolerant pairs."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_hash(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            hashes = [M.dhash56(_dhash_fixture_blob(int(i))) for i in ids]
            yield pd.DataFrame(
                {"doc_id": ids, "dhash": pd.array(hashes, dtype="Int64")}
            )

    return docs.mapInPandas(gen_and_hash, "doc_id long, dhash long")


def _image_pair_fixture_blob(i: int) -> bytes:
    """Deterministic 9×7 image blob with PLANTED near-copies for the
    gated image near-dup pair query (r13, VERDICT r12 item 2). 9×7 is
    exactly the dHash sample grid, so every pixel is a sample point and
    the gradient-sign bits are fully controlled. Docs come in groups of
    3 (gid = floor(doc_id / 3), member m = doc_id mod 3):

    - m=0: base gray pattern (hg + 29x + 31y) % 180 + 20 as a GIF;
    - m=1: the SAME pattern as a BMP (gray triplets — identical integer
      gray, so even-gid groups pair CROSS-FORMAT at hamming 0), with a
      +40 perturbation at pixels (4,3) and (1,5) on odd gids (base is in
      [20, 199] so +40 never leaves byte range) — flips at most 2
      gradient signs, a planted near-copy at hamming ∈ {0, 1, 2};
    - m=2: an unrelated pattern — far in hamming, never a planted pair.

    Same-hg groups (hg has period 157) collide by construction; both
    engines replay the identical closed form, so cross-group cliques are
    part of the contract, bounded at the gate/bench SFs."""
    from flink_cdc_multi_spark.operators import multimodal as M

    m = i % 3
    gid = (i - m) // 3
    hg = gid % 157
    pert = 40 * (gid % 2)
    if m == 2:
        return M.make_gif_gray(
            9, 7, lambda x, y: (hg + 97 * x + 53 * y + 11 * x * y) % 256
        )
    base = lambda x, y: (hg + 29 * x + 31 * y) % 180 + 20  # noqa: E731
    if m == 0:
        return M.make_gif_gray(9, 7, base)

    def perturbed(x, y):
        v = base(x, y)
        if (x, y) in ((4, 3), (1, 5)):
            v += pert
        return v

    return M.make_bmp_rgb(9, 7, lambda x, y: (perturbed(x, y),) * 3)


def ext_dedup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup PAIRS, gated end to end (r13, VERDICT r12 item 2):
    dHash56 over the planted-near-copy mixed-format fixture
    (_image_pair_fixture_blob — GIF base, BMP copy/perturbed-copy, GIF
    decoy per group of 3), then multimodal.dhash_pairs — the FUSED
    pigeonhole block join (4×14-bit blocks, exact for hamming ≤ 3, the
    emit-once first-equal-block plan; never a pair-key dropDuplicates,
    the CLAUDE.md hot-clique skew wall) + bit_count verify. Even-gid
    groups pair cross-format at hamming 0 (same pixels, different
    container); odd-gid groups pair at hamming 1-2 (planted ±40
    perturbation); decoys and far-apart groups are excluded by the ≤ 3
    threshold — both sides of the threshold exercised. The DuckDB
    oracle replays the hashes closed-form and takes ALL (a<b) pairs
    with bit_count(xor) ≤ 3, so the fused plan must emit exactly once
    per pair. Output: (a_id, b_id, hamming).

    FIXTURE scale note: the base-pattern family has ~O(180) distinct
    hashes (bits depend on hg's wrap positions), so same-hash cliques —
    and the true pair count — grow quadratically with SF (sf0.01: 7.8k
    pairs; sf0.1: ~80k). That is a property of this closed-form FIXTURE
    (both engines replay it identically; the gate/bench SFs are bounded),
    not of dhash_pairs: on a real corpus the pair count is
    duplication-bounded, and the fused pigeonhole plan is exactly the
    measured hot-clique-safe shape. Don't run THIS query at sf ≥ 1."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_hash(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            hashes = [M.dhash56(_image_pair_fixture_blob(int(i))) for i in ids]
            yield pd.DataFrame(
                {"doc_id": ids, "dhash": pd.array(hashes, dtype="Int64")}
            )

    hashed = docs.mapInPandas(gen_and_hash, "doc_id long, dhash long")
    return M.dhash_pairs(hashed, max_hamming=3)


def ext_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling end to end (round 11 — lifts the video-side
    stub on the container this sandbox can decode): synthesize a
    spec-valid ANIMATED GIF89a per document (2-5 frames of
    doc_id-derived size, 50 ms GCE frame clock, gray pattern closed-form
    in (frame, x, y)), then run operators/multimodal.
    frame_sample_features at an 80 ms stride — container walk, frame
    seek, LZW decode of ONLY the sampled frames, exact integer luma per
    sampled timestamp. The DuckDB oracle replays the frame clock
    (ts // 50) and the pixel pattern in pure SQL, so a wrong delay
    parse, frame index, or LZW decode breaks the hash. The 80 ms stride
    over 50 ms frames makes consecutive samples land in non-consecutive
    frames, so the selective-decode path (skipped frames never pay LZW)
    is exercised on every multi-frame doc."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                s = i % 256
                blobs.append(
                    M.make_gif_gray_animated(
                        i % 10 + 3,
                        i % 7 + 3,
                        i % 4 + 2,
                        5,  # 50 ms per frame
                        lambda f, x, y, s=s: (s + 11 * f + 3 * x + 5 * y) % 256,
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "media": blobs})

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    return M.frame_sample_features(media, every_ms=80)


def ext_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container frame sampling (r15, VERDICT r14 item 5):
    synthesize a spec-valid MJPEG/AVI per document — RIFF('AVI ') with
    avih/strh/strf headers, word-aligned '00dc' chunks, idx1 index
    (operators/multimodal.make_avi_mjpeg, composing the WAV path's RIFF
    grammar with the module's baseline JPEG encoder) — and sample it
    back through video_sample_features at an 80 ms stride over 50 ms
    frames: container walk, frame-clock mapping from dwMicroSecPerFrame,
    JPEG entropy decode of ONLY the sampled frames (the stride lands
    consecutive samples in non-consecutive frames on every multi-frame
    doc, so the selective path is always exercised — pinned by a
    decode-call-count test like the GIF twin). Frames are the DC-only
    JPEG profile (flat 8x8 blocks at exact dc+128), so the DuckDB oracle
    replays the frame clock AND the decoded luma closed-form; a wrong
    RIFF walk, avih parse, frame index, chunk alignment, or JPEG decode
    breaks the hash. Output: (doc_id, sample_ts_ms, frame_idx,
    luma_sum, n_px) — the frame_sample_features schema."""
    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = M.synthesize_avi_corpus(docs)
    return M.video_sample_features(media, every_ms=80)


def ext_events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by (value, event_id) per event type — the canonical
    top-N-per-group pattern. The (value DESC, event_id ASC) order is
    total (event_id unique), so the result SET is engine-independent.

    Scale: Spark plans the rank-filter as WindowGroupLimit (plan-pinned):
    each map task keeps only k rows per group BEFORE the exchange, so the
    shuffle carries ≤ k·|groups| rows per partition instead of the whole
    table — the per-group analogue of TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.select("event_type", "event_id", "value")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "event_id", "value", F.col("rk").cast("bigint").alias("rk"))
    )


# Odd multiplicative scramble for ext_layout_zorder's dimensions
# (Knuth 2654435761 = 2^32·φ⁻¹ rounded to odd) — bijective mod 2^21,
# shared verbatim with the generated DuckDB oracle.
_ZORDER_SCRAMBLE = 2654435761


def ext_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave kernel over events (r16) — the gated
    face of operators/layout.py, the multi-column clustering layout that
    makes parquet/manifest min/max pruning work for predicates on EITHER
    of two dimensions (Delta's OPTIMIZE ZORDER BY; see the module
    docstring and tests/test_layout.py for the measured per-file
    bounding-rectangle collapse). The kernel is the classic 5-step
    magic-mask bit spread — exact int64 shift/and/or chains that stay in
    whole-stage codegen (never a 2·bits-term flat sum; codegen bailout
    rule) — and is replayed bit-for-bit by the DuckDB oracle from the
    SAME decimal mask literals (MORTON_MASKS, the shared-constant
    generated-oracle pattern).

    Query contract: each dimension is pmod(id, 2^21) then scrambled by
    an ODD multiplicative constant mod 2^21 (a bijection, so it loses
    nothing and FILLS all 21 bit positions — raw gate ids never exceed
    ~2^14, which would leave the high mask stages vacuously green; the
    double-mod first keeps the product ≤ 2^21·K < 2^53, no ANSI
    overflow on hostile extreme ids). Negative and NULL ids in the
    adversarial fixture flow through identically on both sides: NULL →
    NULL key → the NULL zprefix group. Rows roll up by the 8-bit
    z-prefix (the top of the 42-bit key = the coarse z-cell a file
    would own) with exact-integer evidence per cell: count, min/max of
    each scrambled dimension, and sum of the full key (any single-bit
    interleave regression shifts it). Scale shape: scan-local bit math
    + ONE partial-agg'd exchange on the ≤256-value zprefix — no joins,
    no windows."""
    from flink_cdc_multi_spark.operators.layout import (
        MORTON_INPUT_MASK,
        dim_barrier,
        morton2,
    )

    m = MORTON_INPUT_MASK + 1
    ev = load_table(spark, sf_dir, "events")
    a = ((((F.col("user_id") % m) + m) % m) * _ZORDER_SCRAMBLE) % m
    b = ((((F.col("event_id") % m) + m) % m) * _ZORDER_SCRAMBLE) % m
    # dims cross a Generate barrier so the spread chain's 2^5 leaf
    # duplication copies ATTRIBUTES, not the mod/scramble arithmetic
    # (same-session sf10 ABAB: 0.95 → 0.77 s; see dim_barrier)
    dims = dim_barrier(ev.select("user_id", "event_id"), a, b)
    return (
        dims.select(
            F.col("__dim_a").alias("a"),
            F.col("__dim_b").alias("b"),
            morton2(F.col("__dim_a"), F.col("__dim_b")).alias("zkey"),
        )
        .groupBy(F.shiftright(F.col("zkey"), 34).alias("zprefix"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("a").cast("bigint").alias("min_a"),
            F.max("a").cast("bigint").alias("max_a"),
            F.min("b").cast("bigint").alias("min_b"),
            F.max("b").cast("bigint").alias("max_b"),
            F.sum("zkey").cast("bigint").alias("sum_z"),
        )
    )


def ext_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in exact integer arithmetic — the
    k-means M-step as a distributed vector aggregate. Components are
    quantized to 1e-6 via floor(x·1e6 + 0.5) — the SAME IEEE op sequence
    in both engines (the ext_embed_quantize parity idiom; bround/ROUND
    would diverge on exact halves, which float inputs CAN produce: any
    odd multiple of 2^-7 lands on .5 after ·1e6) — and emitted in LONG
    form (label, dim, sum_q6, n_vecs): the consumer divides
    sum_q6 / n_vecs for the mean — ratio rule, float division never
    crosses the engine boundary.

    Scale: posexplode to (label, dim, v) rows — 16-byte shuffle payload —
    then ONE partial-agg'd groupBy(label, dim); the classic shape that
    computes centroids over billions of vectors without ever holding a
    vector-width accumulator per task thread."""
    emb = load_table(spark, sf_dir, "embeddings")
    q6 = F.floor(F.col("v").cast("double") * 1e6 + 0.5).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy(
            F.col("label").cast("bigint").alias("label"),
            F.col("dim").cast("bigint").alias("dim"),
        )
        .agg(F.sum(q6).alias("sum_q6"), F.count("*").alias("n_vecs"))
    )


def ext_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end (round 6): synthesize a spec-valid
    mono PCM16 WAV per document — RIFF container, fmt/LIST/data chunks,
    word-aligned — then decode it BACK through the stdlib RIFF walker +
    numpy PCM reader (operators/multimodal.wav_pcm16_stats) and emit
    exact integer waveform stats. The sample pattern is closed-form in
    (doc_id, i), so the DuckDB oracle recomputes the same integers from
    pure SQL — a codec regression (endianness, chunk alignment, stride)
    breaks the hash. Same repartition rationale as ext_multimodal_luma:
    the Python kernel is the cost center, spread it across cores."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_decode(it):
        import numpy as np

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            out = {"doc_id": ids, "sample_rate": [], "n_samples": [], "sum_abs": [], "peak": []}
            for d in ids:
                d = int(d)
                n = d % 50 + 20
                i = np.arange(n, dtype=np.int64)
                samples = (d % 97 * 31 + i * 37) % 4001 - 2000
                blob = M.make_wav_pcm16(
                    8000 + d % 4 * 4000, samples, extra_chunk=(d % 3 == 0)
                )
                sr, ns, sa, pk = M.wav_pcm16_stats(blob)
                out["sample_rate"].append(sr)
                out["n_samples"].append(ns)
                out["sum_abs"].append(sa)
                out["peak"].append(pk)
            yield pd.DataFrame(
                {k: (v if k == "doc_id" else pd.Series(v, dtype="int64"))
                 for k, v in out.items()}
            )

    return docs.mapInPandas(
        gen_and_decode,
        "doc_id long, sample_rate long, n_samples long, sum_abs long, peak long",
    )


def ext_multimodal_audiohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO fingerprint (r13): audio_hash56 over REAL
    decoded PCM16 samples of a deterministic WAV fixture — the waveform
    member of the near-dup family (text MinHash/SimHash, image dHash,
    embedding cosine, audio this). Real RIFF walk + numpy PCM decode →
    57 energy windows by the exact (j·57)//n partition → delta-sign
    bits; every step exact integer, so the DuckDB oracle replays the
    whole fingerprint from (doc_id)-closed-form arithmetic — a wrong
    chunk walk, sample stride, window boundary, or bit order breaks the
    value hash. Positive-mod id→params on BOTH sides for negative
    (adversarial) doc_ids. Scale: the codec-family shape — repartition
    8-byte ids, Arrow mapInPandas, blob never leaves its task; compose
    with exact_dedup(ahash) or the pigeonhole pair join."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_hash(it):
        import numpy as np

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            hashes = []
            for d in ids:
                d = int(d)
                n = d % 120 + 171  # >= 171 samples: every window nonempty
                s = d % 256
                j = np.arange(n, dtype=np.int64)
                samples = (s * 7 + 13 * j) % 4001 - 2000
                blob = M.make_wav_pcm16(8000, samples,
                                        extra_chunk=(d % 2 == 0))
                hashes.append(M.audio_hash56(blob))
            yield pd.DataFrame(
                {"doc_id": ids, "ahash": pd.array(hashes, dtype="Int64")}
            )

    return docs.mapInPandas(gen_and_hash, "doc_id long, ahash long")


def ext_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG entropy decode end to end (round 6; AC profile r11):
    synthesize a spec-valid baseline grayscale JPEG per document —
    canonical Huffman tables from DHT, stuffed-byte bitstream, DC
    prediction, zigzag AC run-length coding — and decode it BACK through
    operators/multimodal.jpeg_gray_luma_sum. Docs with bh == 2 carry
    nonzero AC coefficients (horizontal u=1 and vertical v=1 per block),
    exercising the full AC entropy decode + the pinned fixed-point
    integer IDCT (multimodal._idct_basis); the rest stay flat blocks on
    the exact dc+128 closed form. Dimensions come from the real header
    parse, integer luma sums from the real decode; the DuckDB oracle
    recomputes BOTH profiles closed-form (the AC twin replays the
    integer IDCT contract per pixel with the basis constants inlined),
    so a regression anywhere in the marker walk, Huffman decode, sign
    EXTEND, DC chain, zigzag placement, dequant, or IDCT rounding breaks
    the hash."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_decode(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            out = {"doc_id": ids, "width": [], "height": [], "luma_sum": [], "n_px": []}
            for d in ids:
                d = int(d)
                bw, bh = d % 3 + 1, d % 2 + 1
                blocks = []
                for b in range(bw * bh):
                    c = [0] * 64
                    c[0] = ((d * 7 + b * 13) % 201) - 100
                    if d % 2 == 1:  # AC profile: u=1 (natural 1), v=1 (natural 8)
                        c[1] = ((d * 11 + b * 17) % 81) - 40
                        c[8] = ((d * 5 + b * 23) % 61) - 30
                    blocks.append(c)
                blob = M.make_jpeg_gray(bw * 8, bh * 8, blocks)
                fmt, w, h = M.parse_image_header(blob)
                assert fmt == "jpeg"
                s, n = M.jpeg_gray_luma_sum(blob)
                out["width"].append(w)
                out["height"].append(h)
                out["luma_sum"].append(s)
                out["n_px"].append(n)
            yield pd.DataFrame(
                {k: (v if k == "doc_id" else pd.Series(v, dtype="int64"))
                 for k, v in out.items()}
            )

    return docs.mapInPandas(
        gen_and_decode,
        "doc_id long, width long, height long, luma_sum long, n_px long",
    )


def ext_multimodal_gifbmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF and BMP pixel decode end to end (round 6): alternate
    docs get a spec-valid GIF89a (grayscale palette + genuine LZW-coded
    index stream, operators/multimodal._lzw_encode_gif) or a 24-bit
    bottom-up BMP; both are decoded BACK through the real readers
    (gif_luma_sum runs the full LZW decode incl. variable code widths;
    bmp_luma_sum walks the padded BGR rows) and the exact 1000-scale
    Rec.601 luma sums are hash-checked against a closed-form SQL
    recompute — with PNG (ext_multimodal_luma) and DC-JPEG
    (ext_multimodal_jpeg) this makes pixel decode REAL and oracle-gated
    for all four header-supported formats."""
    import pandas as pd

    from flink_cdc_multi_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen_and_decode(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            out = {"doc_id": ids, "format": [], "width": [], "height": [],
                   "luma_sum": [], "n_px": []}
            for d in ids:
                d = int(d)
                w, h = d % 24 + 8, d % 16 + 8
                if d % 2 == 0:
                    blob = M.make_gif_gray(
                        w, h, lambda x, y: (d * 5 + x * 16 + y * 3) % 256
                    )
                    s, n = M.gif_luma_sum(blob)
                    fmt = "gif"
                else:
                    blob = M.make_bmp_rgb(
                        w, h,
                        lambda x, y: (
                            (d + x * 7) % 256,
                            (d * 3 + y * 11) % 256,
                            (x + y + d) % 256,
                        ),
                    )
                    s, n = M.bmp_luma_sum(blob)
                    fmt = "bmp"
                assert M.parse_image_header(blob)[:1] == (fmt,)
                out["format"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["luma_sum"].append(s)
                out["n_px"].append(n)
            yield pd.DataFrame(
                {k: (pd.Series(v, dtype="int64")
                     if k in ("width", "height", "luma_sum", "n_px") else v)
                 for k, v in out.items()}
            )

    return docs.mapInPandas(
        gen_and_decode,
        "doc_id long, format string, width long, height long,"
        " luma_sum long, n_px long",
    )


def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concatenate-then-chunk): global token
    start offset per document in doc_id order plus the 256-token training
    sequences it spans. The Spark side is a DISTRIBUTED prefix sum
    (monotone bucketing + per-bucket cumsum + broadcast base join,
    operators/text.pack_offsets — never a single-partition global
    window); the oracle is the plain windowed running sum the packing is
    defined as. Bucket-count invariance is what the hash check proves."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_offsets(docs, "doc_id", "text", block_tokens=256)


def ext_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-EXACT sequence packing (r12): the ext_pack_sequences layout
    with n_tokens = the real greedy-BPE symbol count (bpe_token_count) —
    the unit actual pretraining batches are budgeted in, composing the
    two operators end to end. Same distributed-prefix-sum shape; r18
    wave 3b: the count rides the Arrow rank-dict kernel (kernel=True,
    bit-identical to the chain) and pack_offsets' count barrier makes it
    evaluate ONCE per document into the persisted counted frame — the
    unbarriered chain form inlined ~20 chain copies across the filter
    and prefix-sum branches (measured 4.2 s → 0.9 s cold at sf0.1).
    Oracle: the packing running sum over the generated BPE chain SQL —
    both sides move with BPE_MERGES."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_offsets(
        docs, "doc_id", "text", block_tokens=256,
        count_expr=X.bpe_token_count(F.col("text"), kernel=True),
    )


def ext_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 vocabulary by document frequency over non-empty docs (vocab /
    BPE-prep first pass). TakeOrderedAndProject top-k — no global sort; the
    (doc_freq DESC, token ASC) order is total, so the top-k SET is
    engine-independent."""
    docs = load_table(spark, sf_dir, "documents")
    return X.vocab_topk(docs, "text", k=30, min_df=2).select(
        "token", F.col("doc_freq").cast("bigint").alias("doc_freq")
    )


def ext_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id >= 5) sharing any
    3-gram shingle with the probe set (doc_id < 5) — the pre-training
    hygiene pass (real suites use longer n-grams; the synthetic vocab is
    small enough that trigrams give a meaningful overlap set). Probe
    shingles broadcast; corpus never shuffles on the shingle."""
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    return D.contamination_report(corpus, probes, "doc_id", "text", n=3).select(
        "doc_id",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.col("n_sh").cast("bigint").alias("n_sh"),
    )


def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from pair output: connected components over the
    3-gram Jaccard >= 0.2 pairs (doc_id < 300 scope), cluster_id = min
    reachable doc_id. The closure step every dedup pipeline needs between
    pairs and keep-one-per-group (similarity is not transitive). Iterative
    min-label propagation on Spark; reachability closure via WITH
    RECURSIVE in the oracle — two independent formulations of the same
    fixpoint.

    The built (persisted) result is MEMOIZED per (session, sf_dir): the
    fixpoint is eager by nature (loop convergence probes execute it at
    plan-build time) and neardup_clusters documents caller-side
    unpersist — without the memo every plan build in a long-lived session
    (bench prepare, parametrized smoke tests, plan_report) would leak one
    cached block and re-pay the fixpoint. Same pattern as load_table's
    lazy-plan memo."""
    cache = _session_cache(spark)
    key = ("ext_dedup_clusters", sf_dir)
    # fixpoint built under the shared build lock (r13 review finding:
    # this was the second, unlocked _fcm_result_cache installer — a
    # racing first-caller could clobber the dict the ivfpq path had
    # just populated, and two cluster callers would both run the
    # fixpoint)
    with _ANN_INDEX_BUILD_LOCK:
        if key not in cache:
            docs = load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") < 300
            )
            pairs = _ngram_pair_candidates(docs).select("a_id", "b_id")
            cache[key] = D.neardup_clusters(
                docs.select("doc_id"), pairs, "doc_id"
            )
    return cache[key]


def ext_dedup_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-one-per-cluster (r14) — the selection rule real
    dedup pipelines apply BETWEEN clustering and deletion (RefinedWeb/
    FineWeb keep the best-quality member, not an arbitrary one): for
    each near-dup cluster (the ext_dedup_clusters components, memoized),
    keep the member with the highest quality_score, ties to the lowest
    doc_id; members without tokens (no score row) rank below every
    scored member via an integer sentinel and can only represent an
    all-scoreless cluster. Output: (cluster_id, best_doc_id, best_score
    NULLable, n_members).

    Scale shape: the cluster labels are the already-built CC fixpoint;
    the score is quality_score's one-exchange reduction; selection is a
    max_by(struct) REDUCTION on cluster_id (the materialization skew
    rule — a hot mega-cluster collapses map-side), never a row_number
    window."""
    clusters = ext_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    scores = X.quality_score(docs).select("doc_id", "score")
    sentinel = F.lit(-(2 ** 62)).cast("bigint")
    j = clusters.join(scores, "doc_id", "left")
    ordk = F.struct(
        F.coalesce(F.col("score"), sentinel).alias("s"),
        (-F.col("doc_id")).alias("nd"),
    )
    return (
        j.groupBy("cluster_id")
        .agg(
            F.max_by(F.struct(F.col("doc_id"), F.col("score")), ordk).alias("b"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("b.doc_id").alias("best_doc_id"),
            F.col("b.score").cast("bigint").alias("best_score"),
            "n_members",
        )
    )


def ext_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: 32-token windows, 8-token overlap (doc_id < 100
    scope keeps the gate result readable; the operator is unbounded)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return X.chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "chunk_text",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


def ext_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line dedup (r12; the C4/RefinedWeb/Dolma pass):
    keep each distinct non-blank line only at its first (doc_id, pos)
    occurrence and rebuild every document. On the driver fixture (no
    duplicate lines) this gates the exact split→reassemble identity;
    the dedup semantics themselves are pinned by the adversarial
    fixture's cross-doc/in-doc duplicate-line rows (the q08 hostile-row
    pattern). See operators/text.line_dedup for contracts (xxhash64-keyed
    line identity since r17 — was md5; whitespace-only lines never dedup,
    and since r18 never share the content key space) and the 100 TB
    shape (r18 wave 2: one scan+split pass repartitioned on (is_ws, h),
    winner reduction riding that exchange, in-partition SHJ probe —
    ABAB 1.45x sf0.1, 1.15-1.22x sf10 incl. the forced non-broadcast
    regime, PERF.md "r18")."""
    docs = load_table(spark, sf_dir, "documents")
    return X.line_dedup(docs)


def ext_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier scoring (r12, VERDICT r11 item 8): per document
    the exact-integer fasttext-shaped linear score (hashed token buckets
    x fixed md5-derived integer weights) + token count. Completes the
    curation surface: score -> threshold -> ext_budget_sample is the
    full classifier-filtered mixture pipeline (composition pinned in
    tests/test_extensions.py). See operators/text.quality_score for the
    one-exchange plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    return X.quality_score(docs)


def ext_text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real greedy BPE encoding (r12, VERDICT r11 item 2): per document,
    the fixed-merges BPE symbol sequence and its token count — the
    canonical training-data tokenization operator the suite previously
    only estimated (chars/4). Pure Column expressions (one regexp char
    split + |merges| chained replace() calls, see operators/text.py
    bpe_encode for the two-space symbol-rendering trick that makes plain
    string replace() exactly the BPE merge pass in BOTH engines); the
    DuckDB oracle runs the literally identical chain. NULL texts excluded
    on both sides (the ext_dedup_priority contract).

    Scale: scan-side map, zero exchanges. r18 wave 3 (guide §4.2): the
    encode rides the Arrow rank-dict KERNEL (kernel=True), not the
    16-replace codegen chain — each replace() is a full-string scan +
    allocation per document, so the chain pays 16 corpus passes where
    the kernel pays one Arrow crossing + cache-amortized per-word
    encodes; ABAB both orders 1.9×/5.0×/4.2-4.5× at sf0.1/sf1/sf10,
    outputs bit-identical (the chain stays the definitional form the
    DuckDB oracle SQL is generated from — both move with BPE_MERGES).
    The count still goes through a Generate barrier so the encode
    evaluates once per document (CollapseProject would otherwise
    re-inline it into both output columns, PERF.md lesson)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    enc = docs.select(
        "doc_id",
        F.explode(F.array(X.bpe_encode(F.col("text"), kernel=True))).alias("bpe"),
    )
    return enc.select(
        "doc_id",
        F.when(F.col("bpe") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("bpe"), " ")))
        .cast("bigint")
        .alias("n_bpe"),
        "bpe",
    )


def ext_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition signal: total vs distinct 3-gram shingles per
    document (integer pair; heavy repeaters are pre-training drops)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.repetition_stats(docs, "doc_id", "text", n=3).select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


# -- event analytics (funnel / retention / JSON props / PII scrub) ---------


def ext_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-priority dedup: among exact-duplicate texts, keep the copy
    from the most-preferred source (src0 > src1 > ... by trailing index;
    doc_id breaks ties) — the 'prefer the curated source over the crawl'
    rule real curation pipelines apply when the same document appears in
    multiple feeds.

    Scale: IS exact_dedup with a custom order key — groupBy a 16-byte
    digest with a min_by(struct(priority, doc_id)) REDUCTION (partial
    agg collapses hot digests map-side; no window, no sort). The pick
    ordering itself is pinned by
    test_exact_dedup_order_by_prefers_curated_source (the gate-SF
    fixture has no duplicate texts, so the gate alone would only prove
    an identity projection). NULL texts are excluded on both sides:
    exact_dedup's concat_ws digest folds NULL to the empty string
    (grouping NULL text WITH empty text) while the oracle's md5(text)
    keeps a separate NULL partition — pinned out rather than left
    engine-specific."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
    )
    # \z (whole-text end), not $: Java's $ matches before a trailing
    # newline while RE2's does not — 'src1\n' would extract 1 in Spark
    # and 999 in DuckDB (same divergence class ext_events_json pins
    # with \A/\z anchors).
    prio = F.coalesce(
        F.regexp_extract("source", r"(\d+)\z", 1).try_cast("long"), F.lit(999)
    )
    return D.exact_dedup(
        docs, ["text"], "doc_id",
        order_by=F.struct(prio.alias("p"), F.col("doc_id")),
    ).select("doc_id", "source")


def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (r16) — the deterministic form of
    weighted random sampling (Duffield/Lund/Thorup priority sampling;
    the A-ES family): keep the k=100 documents with the smallest
    h/weight, where h is the portable md5-hash60 of the doc id and
    weight = n_chars + 1 — inclusion probability rises with document
    length, the standard size-biased sample mixture construction wants
    ("sample 100 docs, long docs proportionally more likely"), yet the
    selection replays bit-for-bit: h/w is ONE IEEE-754 division
    (exactly specified cross-engine — the tfidf rank rule; the
    classical exponential/ln formulation is banned by the no-libm
    rule), ties broken by doc_id.

    NULL guard: rows with NULL n_chars are filtered EXPLICITLY — a NULL
    priority would sort NULLS FIRST in Spark and NULLS LAST in DuckDB
    (the sessionize trap), silently diverging the selected set on any
    fixture with < k valid docs. Output: (rnk, doc_id, h, w) — exact
    integers; the priority itself never crosses the gate (ratio rule).

    Scale shape: scan-local hash + one TakeOrderedAndProject (plan-
    pinned) — the global top-k never sorts the corpus; each map task
    forwards ≤ k rows."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = (
        docs.filter(F.col("n_chars").isNotNull())
        .select(
            "doc_id",
            h.alias("h"),
            (F.col("n_chars") + 1).cast("bigint").alias("w"),
        )
        .withColumn(
            "pri", F.col("h").cast("double") / F.col("w").cast("double")
        )
        .orderBy(F.col("pri").asc(), F.col("doc_id").asc())
        .limit(100)
    )
    rw = Window.orderBy(F.col("pri").asc(), F.col("doc_id").asc())
    return (
        base.withColumn("rnk", F.row_number().over(rw))
        .select(
            F.col("rnk").cast("bigint").alias("rnk"), "doc_id", "h", "w"
        )
    )


def ext_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subsampling: per source, take documents in doc_id
    order until a 600-token budget is exhausted (the first doc may
    straddle the boundary; selection is by EXCLUSIVE running total <
    budget — deterministic, order-defined). The knob that turns 'use 5%
    of source X' into an exact token count during mixture construction.
    (600 tokens ≈ half a source's volume at the sf0.01 gate, so BOTH the
    kept-side and cut-side of the boundary are exercised at the gate SF.)

    Scale: one cumulative window per source partition — the running sum
    is PARTITIONED (never a global-order window); token counts are
    integer and exact, so the cut point cannot drift between engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = X.token_count(F.col("text")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("before") < 600)
        .select("doc_id", "source", "n_tokens", F.col("before").alias("tokens_before"))
    )


def ext_sketch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch (r15): per-language p50/p90/
    p99 of document length via an integer histogram — the quantile
    companion to ext_sketch_kmv's distinct sketch. Exact quantiles need
    a global sort (or per-group collect); percentile_approx is
    engine-local and can't be oracle-gated; a FIXED integer grid
    (bucket = n_chars div 16) is deterministic, portable, and mergeable
    by bucket-count addition — the shape a 100 TB profiling pass wants:
    one partial-agg'd groupBy collapses the corpus to |langs|·|buckets|
    rows map-side, and the quantile extraction runs over that tiny
    frame. The estimate is the bucket LOWER BOUND (bucket*16) of the
    first bucket whose cumulative count reaches ceil(q·n) — exact
    integers end to end, error bounded by the grid width.

    Scale: the corpus touches ONE exchange (the (lang, bucket) partial
    agg); the cumulative window runs on the sketch, never the data.
    Output: (lang, n_docs, p50_lb, p90_lb, p99_lb)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # integer div, then bigint throughout (Spark length() is int32 — the
    # CLAUDE.md type-parity rule)
    hist = (
        docs.select(
            "lang",
            F.expr("CAST(length(text) AS BIGINT) div 16").alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("lang").orderBy("bucket")
    cum = hist.select(
        "lang", "bucket", "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )

    def q_lb(q_num: int, q_den: int):
        # first bucket where cum·den >= n·num (integer ceil semantics)
        hit = F.when(F.col("cum") * q_den >= F.col("n") * q_num,
                     F.col("bucket") * 16)
        return F.min(hit)

    return (
        cum.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            q_lb(1, 2).alias("p50_lb"),
            q_lb(9, 10).alias("p90_lb"),
            q_lb(99, 100).alias("p99_lb"),
        )
    )


def ext_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-cardinality sketch per language:
    the k=64 smallest xxhash64 values of the distinct token set. The
    consumer estimates |distinct| ≈ (k_eff-1)·2^60 / kth_min — the
    mergeable-sketch path for distinct counting at 100 TB, where exact
    per-group count_distinct shuffles every distinct value and HLL±
    (approx_count_distinct) is engine-local and can't be oracle-gated.
    This xxhash64-derived KMV is DETERMINISTIC and portable (the r17
    fast-lane contract: Spark hashes with one JVM xxhash64 call, the
    oracle replays the bits via functions/xxh64_sql), so the sketch
    itself is hash-checked cross-engine (output: lang, k_eff, kth_min —
    exact integers; the float estimate never crosses the engine
    boundary, ratio rule).

    Scale: distinct (lang, h) collapses duplicates with one partial-agg'd
    exchange on the compact 8-byte hash; the k-smallest selection is a
    rank window that compiles to WindowGroupLimit (pinned) — each map
    task forwards ≤ k rows per lang BEFORE the lang exchange, which is
    exactly the distributed merge of per-partition KMV sketches."""
    docs = load_table(spark, sf_dir, "documents")
    # r17: no array_distinct pre-pass — the (lang, h) distinct's partial
    # aggregate already collapses duplicates map-side, so the per-doc
    # array dedup was pure overhead once the hash got cheap (sf10 ABAB
    # 0.92 -> 0.81 s, bit-equal; same finding as ext_sketch_hll)
    toks = docs.filter(F.trim("text") != "").select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    # r17 portable-hash fast lane: ONE JVM xxhash64 call per token (the
    # md5+conv pair was the measured sf10 scan wall); the oracle replays
    # the exact bits via the generated XXH64 chain (functions/xxh64_sql)
    # and reinterprets them SIGNED, so the k-smallest order matches.
    h = F.xxhash64("token")
    distinct_h = toks.select("lang", h.alias("h")).distinct()
    w = Window.partitionBy("lang").orderBy("h")
    return (
        distinct_h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("lang")
        .agg(F.count("*").alias("k_eff"), F.max("h").alias("kth_min"))
    )


def ext_sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus-overlap estimation from KMV sketches (r16) — the
    set-OPERATION face of k-minimum-values (Beyer et al. 2007 §4):
    where ext_sketch_kmv estimates each set's cardinality, this
    estimates the Jaccard similarity of every language pair's token
    sets from the SKETCHES ALONE — at 100 TB you measure corpus overlap
    (dedup planning, contamination triage, mixture design) without ever
    joining the corpora: J ≈ |U ∩ A_k ∩ B_k| / |U| where U is the k
    smallest of A_k ∪ B_k. Everything after the sketch build runs on
    |langs| rows of 64 int64s.

    Exact-integer contract (ratio rule): output (lang_a, lang_b, k_u,
    n_match) — the estimate n_match/k_u never crosses the engine
    boundary. The hashes are the portable signed xxhash64 (r17 fast
    lane, replayed by functions/xxh64_sql), so A_k/B_k/U are
    bit-identical cross-engine and the gate hashes the whole estimator
    input. Pairs are ordered lang_a < lang_b; a NULL-lang group drops
    from pairing on BOTH engines (NULL comparison → no row), pinned by
    the adversarial sweep.

    Scale shape: the sketch build is ext_sketch_kmv's (distinct on the
    8-byte hash, WindowGroupLimit caps each map task at k rows per lang
    before the lang exchange); the pairing is a self-join of the
    |langs|-row sketch table — broadcast-trivial at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # r17: same xxhash64 fast lane + signed-order contract + dropped
    # array_distinct as ext_sketch_kmv (the sketch build is shared)
    toks = docs.filter(F.trim("text") != "").select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    h = F.xxhash64("token")
    distinct_h = toks.select("lang", h.alias("h")).distinct()
    w = Window.partitionBy("lang").orderBy("h")
    sketches = (
        distinct_h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("lang")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    a, b = sketches.alias("a"), sketches.alias("b")
    u = F.slice(
        F.array_sort(F.array_union(F.col("a.hs"), F.col("b.hs"))), 1, 64
    )
    n_match = F.size(
        F.array_intersect(F.array_intersect(u, F.col("a.hs")), F.col("b.hs"))
    )
    return (
        a.join(b, F.col("a.lang") < F.col("b.lang"))
        .select(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            F.size(u).cast("bigint").alias("k_u"),
            n_match.cast("bigint").alias("n_match"),
        )
    )


# Count-min sketch geometry (ext_sketch_cms): d hash rows × w columns.
# Kirsch–Mitzenmacher double hashing derives the d row-columns from ONE
# base hash — col_r = (h1 + r·h2) mod w with h2 forced odd — so the
# scan pays a single hash per occurrence (xxhash64 since r17) and both
# engines replay the identical integer arithmetic. r16: the kernel lives
# in operators/sketch.py (shared with the streaming heavy-hitter
# estimator); these aliases keep the oracle-side names.
from flink_cdc_multi_spark.operators.sketch import (  # noqa: E402
    CMS_D as _CMS_D,
)
from flink_cdc_multi_spark.operators.sketch import (  # noqa: E402
    CMS_W as _CMS_W,
)
from flink_cdc_multi_spark.operators.sketch import (  # noqa: E402
    cms_h1_h2,
)


def ext_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch + point queries (r16) — the fourth
    mergeable sketch next to KMV/HLL (distinct), and the histogram
    (quantiles): CMS answers "how often does x occur" in fixed space
    with a one-sided error (estimate ≥ truth, overshoot ≤ εN w.h.p. —
    Cormode & Muthukrishnan 2005), THE heavy-hitter/frequency primitive
    a 100 TB token-statistics pass wants: the sketch is d·w = 1024
    int64 cells per group regardless of corpus size, built by ONE
    partial-agg'd exchange (each map task collapses to ≤ 1024 cell rows
    before the shuffle — sketches merge by cell-wise SUM, so
    per-partition sketches ARE the partial aggregation), and point
    queries join the broadcast-size sketch.

    Probe set = the distinct tokens of doc_id < 5 (the contamination
    probe idiom); output (token, est_count) with est = min over the d
    rows. Everything is exact integer arithmetic on the shared hash
    (xxhash64 since r17 — the oracle replays the bits via
    functions/xxh64_sql), so the sketch AND the estimates replay
    bit-for-bit in DuckDB; the ≥-truth guarantee is pinned by a unit
    test against exact counts."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.trim("text") != "")
    toks = base.select(
        F.explode(X.tokens(F.col("text"))).alias("token")
    )
    h1, h2 = cms_h1_h2(F.col("token"))
    cells = F.array(*[
        F.struct(
            F.lit(r).alias("r"),
            ((h1 + F.lit(r) * h2) % _CMS_W).alias("c"),
        )
        for r in range(_CMS_D)
    ])
    sketch = (
        toks.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("n"))
    )
    probes = (
        base.filter(F.col("doc_id") < 5)
        .select(F.explode(F.array_distinct(X.tokens(F.col("text")))).alias("token"))
        .distinct()
        .select("token", F.explode(cells).alias("rc"))
        .select("token", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("token")
        .agg(F.min("n").cast("bigint").alias("est_count"))
    )


# HLL kernel (r16: extracted to operators/sketch.py so the batch sketch,
# the merged-shard rollup, and the STREAMING distinct counter share one
# j/rho projection + estimator — see the module docstring there for the
# cross-engine float/ln rules). _HLL_LC stays the oracle-side name: the
# generated SQL embeds these integers verbatim.
from flink_cdc_multi_spark.operators.sketch import (  # noqa: E402
    HLL_LC as _HLL_LC,
)
from flink_cdc_multi_spark.operators.sketch import (  # noqa: E402
    hll_finalize,
    hll_j_rho,
)

# r17 portable-hash fast lane: the sketch oracles replay Spark's
# xxhash64 bit-exact through the generated DuckDB XXH64 CTE chain — the
# md5+conv scan wall no longer taxes the gated sketch queries.
from flink_cdc_multi_spark.functions.xxh64_sql import (  # noqa: E402
    xxh64_cte,
    xxh64_signed_expr,
)

from flink_cdc_multi_spark.operators.sketch import (  # noqa: E402
    MG_K as _MG_K,
)


def mg_topk_over(
    df: DataFrame, value_col: str, shard_col: str, k: int = _MG_K
) -> DataFrame:
    """Bounded top-k frequency summary — the mergeable (shard-wise)
    Misra–Gries form (r17, VERDICT r16 item 1; operators/sketch.py holds
    the kernel rationale + the Python twin the streaming state uses).

    Per shard: exact counts (order-free, so the result is DETERMINISTIC
    — the classic sequential MG scan is order-dependent and could never
    be oracle-gated), then COMPRESS to ≤ k counters by subtracting the
    (k+1)-th largest count (ties value ASC). MERGE across shards:
    counter-wise sum, compress again. Output (rnk, value, est_lb) —
    est_lb is a LOWER bound on the true count, undercount ≤ N/(k+1) per
    compress level (the MG invariant, test-pinned vs exact counts).

    Scale shape: the per-shard count is one partial-agg'd exchange on
    (shard, value); the per-shard top-(k+1) is a row_number window that
    compiles to WindowGroupLimit (each map task forwards ≤ k+1 rows per
    shard BEFORE the window exchange — the kmv selection shape); the
    threshold table is |shards| rows (broadcast), and everything after
    the compress runs on ≤ |shards|·k rows, so the global windows are
    single-partition ON PURPOSE (sketch-sized input — the 100 TB corpus
    never reaches them). NULL shard keys drop at the threshold join on
    BOTH engines (equi-join vs USING — the adversarial-gate NULL-key
    convention)."""
    cnt = df.groupBy(shard_col, value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.col("c").desc(), F.col(value_col).asc()
    )
    rk = cnt.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k + 1
    )
    thr = rk.groupBy(shard_col).agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("c"))),
            F.lit(0).cast("bigint"),
        ).alias("t")
    )
    surv = (
        rk.filter(F.col("rn") <= k)
        .join(F.broadcast(thr), shard_col)
        .filter(F.col("c") > F.col("t"))
        .select(value_col, (F.col("c") - F.col("t")).alias("cc"))
    )
    merged = surv.groupBy(value_col).agg(
        F.sum("cc").cast("bigint").alias("cnt")
    )
    w2 = Window.orderBy(F.col("cnt").desc(), F.col(value_col).asc())
    rk2 = merged.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= k + 1
    )
    thr2 = rk2.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("cnt"))),
            F.lit(0).cast("bigint"),
        ).alias("t2")
    )
    out = (
        rk2.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(thr2))
        .filter(F.col("cnt") > F.col("t2"))
        .select(value_col, (F.col("cnt") - F.col("t2")).alias("est_lb"))
    )
    w3 = Window.orderBy(F.col("est_lb").desc(), F.col(value_col).asc())
    return (
        out.withColumn("rnk", F.row_number().over(w3).cast("bigint"))
        .select("rnk", value_col, F.col("est_lb").cast("bigint").alias("est_lb"))
    )


def ext_events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3σ outlier counting (r17) — the anomaly-detection
    primitive over the events stream, under an EXACT integer/decimal
    contract: classic z-score needs mean/stddev (float sums whose value
    depends on addition order, sqrt from libm — both banned by the
    cross-engine rules), so the test is cross-multiplied into pure
    integer arithmetic: x is an outlier of its event_type iff

        (n·x − S)² > 9·(n·Q − S²)   and   n·Q − S² > 0

    where S = Σx, Q = Σx² over the group — algebraically identical to
    (x − μ)² > 9·Var (σ² scaled by n²), zero float ops. Magnitude
    proof: values clamp to ±10⁵ before quantization (floor(v+0.5) —
    the hostile 10⁹ row lands on the clamp rail, not in an overflow),
    so S,Q fit int64 (Q ≤ n·10¹⁰) and every product fits the exact
    wide domain — DECIMAL(38,0) on Spark, HUGEINT in DuckDB, both
    exact ≤ 10²⁵ ≪ 10³⁸. Var = 0 groups (all-equal values) emit no
    outliers BY CONTRACT (z-score undefined), via the second conjunct.
    NULL values are excluded; NULL event_type stays one group.

    Scale: one partial-agg'd pass builds the |event_types|-row moment
    table; the flagging pass broadcast-joins it — the corpus scans
    twice, shuffles never (the moment table is sketch-sized)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    x = (
        F.least(
            F.greatest(F.floor(F.col("value") + F.lit(0.5)), F.lit(-100000)),
            F.lit(100000),
        )
    ).cast("bigint")
    obs = ev.select("event_type", x.alias("x"))
    mom = obs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    dec = "decimal(38,0)"
    # eqNullSafe: a NULL event_type is ONE legitimate group and must
    # meet its own moments (plain equality would drop it; the oracle
    # joins IS NOT DISTINCT FROM — the hll_merge rule)
    m = mom.withColumnRenamed("event_type", "m_type")
    j = obs.join(
        F.broadcast(m), obs["event_type"].eqNullSafe(m["m_type"])
    )
    nd, sd, qd, xd = (
        F.col("n").cast(dec),
        F.col("s").cast(dec),
        F.col("q").cast(dec),
        F.col("x").cast(dec),
    )
    d = nd * xd - sd
    nvar = nd * qd - sd * sd
    return (
        j.select(
            "event_type",
            F.col("n"),
            ((d * d > F.lit(9) * nvar) & (nvar > 0)).cast("int").alias("o"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum("o").cast("bigint").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def ext_events_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence motif counting (r17) — the MATCH_RECOGNIZE /
    sequence-pattern niche next to ext_events_funnel: the funnel counts
    one fixed stage LADDER per user; this renders each user's full
    time-ordered event history as a compact type string (V/C/P/S/E/X,
    one char per event) and counts arbitrary ADJACENT motifs by regex —
    view→click conversions, error pairs (EE — the reliability signal),
    signup→view activation, view→click→purchase chains. Output per
    motif: (motif, n_users, n_hits) — users whose history contains it,
    and total non-overlapping occurrences (Java find() and RE2
    extract_all share left-to-right non-overlap semantics).

    Determinism: the per-user string is built from sort_array over
    (ts_ms, event_id, ch) structs — a TOTAL order (event_id unique), so
    collect_list's arrival order never leaks; the oracle replays it as
    string_agg(... ORDER BY ts_ms, event_id). NULL-ts events are
    excluded (the sessionize rule); a NULL user_id stays ONE group on
    both engines (groupBy semantics); NULL/unknown event types render
    as 'X' (CASE equality — NULL matches no arm).

    Scale: one groupBy on the high-cardinality user key (no hot key);
    per-user state is the bounded per-user history string (a
    pathological single-user firehose would need windowed chunking —
    out of scope, noted). All four motif counters ride ONE aggregate
    over the sequence table (the expectation-suite unpivot pattern),
    so the corpus scans once and the regexes run once per USER, not
    per event."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.when(F.col("event_type") == "view", "V")
            .when(F.col("event_type") == "click", "C")
            .when(F.col("event_type") == "purchase", "P")
            .when(F.col("event_type") == "signup", "S")
            .when(F.col("event_type") == "error", "E")
            .otherwise("X")
            .alias("ch"),
        )
    )
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts_ms", "event_id", "ch"))
                ),
                lambda x: x["ch"],
            ),
        ).alias("s")
    )
    motifs = ["VC", "VCP", "EE", "SV"]
    aggs = []
    for m in motifs:
        cnt = F.regexp_count(F.col("s"), F.lit(m))
        aggs.append(
            F.sum((cnt > 0).cast("int")).cast("bigint").alias(f"u_{m}")
        )
        aggs.append(F.sum(cnt.cast("bigint")).cast("bigint").alias(f"h_{m}"))
    agg = seq.agg(*aggs)
    return agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).alias("motif"),
                    F.col(f"u_{m}").alias("n_users"),
                    F.col(f"h_{m}").alias("n_hits"),
                )
                for m in motifs
            ])
        ).alias("r")
    ).select("r.*").orderBy("motif")


def ext_text_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script detection per document (r17) — the curation signal
    next to ext_text_langid: langid guesses the LANGUAGE from n-gram
    statistics; this measures which WRITING SYSTEMS the characters
    actually belong to (Latin / CJK / Cyrillic / digits), flags
    mixed-script documents (a classic spam / encoding-mojibake /
    prompt-injection signal in web corpora), and rolls up per (lang,
    dominant script).

    Contract: per-class character counts via
    length(regexp_replace(text, '[^<class>]', '')) — plain codepoint
    ranges behave identically in Java regex and RE2 (no shorthand
    classes, no anchors — the adversarial regex rules); length() counts
    CODEPOINTS in both engines. Dominant script is a fixed-priority
    CASE chain (latin > cjk > cyrillic > digit > other) — deterministic
    by construction and mirrored verbatim in SQL, not an argmax whose
    tie semantics could diverge. mixed = ≥ 2 letter-script classes
    present. NULL-safe: the empty-text filter drops blanks; counts of
    0 fall through to 'other'.

    Scale: scan-local per-row regex counts (4 codegen'd passes over the
    text column, no UDF) + one partial-agg'd groupBy on the tiny
    (lang, script) key."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.trim("text") != "")
    classes = {
        "l": "A-Za-z",
        "c": "一-鿿",
        "y": "Ѐ-ӿ",
        "d": "0-9",
    }
    proj = base.select(
        "lang",
        *[
            F.length(
                F.regexp_replace(F.col("text"), f"[^{rng}]", "")
            ).cast("bigint").alias(name)
            for name, rng in classes.items()
        ],
    )
    l, c, y, d = (F.col(n) for n in ("l", "c", "y", "d"))
    script = (
        F.when((l >= c) & (l >= y) & (l >= d) & (l > 0), "latin")
        .when((c >= y) & (c >= d) & (c > 0), "cjk")
        .when((y >= d) & (y > 0), "cyrillic")
        .when(d > 0, "digit")
        .otherwise("other")
    )
    mixed = (
        (l > 0).cast("int") + (c > 0).cast("int") + (y > 0).cast("int")
        >= 2
    ).cast("int")
    return (
        proj.select("lang", script.alias("script"), mixed.alias("mixed"))
        .groupBy("lang", "script")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("mixed").cast("bigint").alias("n_mixed"),
        )
        .orderBy("lang", "script")
    )


def ext_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (r17) — the Deequ/Great-Expectations
    primitive a CDC lake runs after every load: declarative rules
    (range / domain / not-null / format / referential integrity) checked
    in bulk, emitting (rule, n_checked, n_violations) as exact integers.
    Thresholds are deliberately tight enough to FLAG real rows (an
    all-zero report is a vacuous gate — the q08 lesson).

    NULL contract (identical cross-engine by construction): a NULL value
    PASSES every rule except its own not-null rule — `CASE WHEN NOT
    (pred) THEN 1` is NULL-neutral in both engines; the not-null rule
    tests IS NULL directly. RI orphan contract: a NULL foreign key IS an
    orphan (equality anti-join / NOT EXISTS never matches NULL on either
    engine — the adversarial NULL-key convention).

    Scale shape: ONE pass per table — every scalar rule on a table rides
    a single conditional-sum aggregate (no Expand; the counters unpivot
    from one row AFTER the agg), so a 100-rule suite still scans each
    table once. Each RI rule is one anti-join count on the q21
    shuffle_hash form — the sf10 audit measured every alternative worse
    (SMJ two-sort slowest; aggregate-before-join 3.35 s vs SHJ 2.85 s —
    1.5M distinct keys barely collapse map-side; broadcast 8.34 s — a
    1.5M-key hash table built and shipped per thread; partition sweep:
    32 optimal). The residual vs DuckDB (~3.4 s vs 0.6 s at sf10) is
    the engine constant of one 6M-row key exchange; a DEPLOYED suite
    runs the RI legs over co-bucketed layouts (operators/bucketing.py)
    where the SHJ drops both exchanges — the q28 measured path
    (3.5 → 1.25 s). The format rule's regex uses \\z, never $ (Java $
    matches before a trailing newline, RE2's does not)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def viol(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    def unpivot(agg_df, rules: list[tuple[str, str]]):
        return agg_df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(rule).alias("rule"),
                        F.col("n").alias("n_checked"),
                        F.col(vcol).alias("n_violations"),
                    )
                    for rule, vcol in rules
                ])
            ).alias("r")
        ).select("r.*")

    li_agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        viol(~F.col("l_quantity").between(1, 45)).alias("v_qty"),
        viol(F.col("l_discount") > 0.05).alias("v_disc"),
        viol(~F.col("l_returnflag").isin("A", "R")).alias("v_flag"),
    )
    li_rows = unpivot(
        li_agg,
        [
            ("range: lineitem.l_quantity in [1,45]", "v_qty"),
            ("range: lineitem.l_discount <= 0.05", "v_disc"),
            ("domain: lineitem.l_returnflag in (A,R)", "v_flag"),
        ],
    )
    o_agg = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        viol(F.col("o_totalprice") < 1000).alias("v_price"),
        viol(F.col("o_orderdate").isNull()).alias("v_null"),
    )
    o_rows = unpivot(
        o_agg,
        [
            ("range: orders.o_totalprice >= 1000", "v_price"),
            ("not_null: orders.o_orderdate", "v_null"),
        ],
    )
    c_rows = unpivot(
        cust.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            viol(F.col("c_acctbal") < 0).alias("v_bal"),
            viol(~F.col("c_name").rlike(r"^Customer#[0-9]+\z")).alias(
                "v_name"
            ),
        ),
        [
            ("range: customer.c_acctbal >= 0", "v_bal"),
            ("format: customer.c_name", "v_name"),
        ],
    )

    def ri_row(rule, n_df, fact, fk, dim, pk):
        # n_checked reuses the table's rules aggregate (identical
        # aggregate subtrees execute once under AQE's ReuseExchange —
        # the r16 note — so the fact scans once for rules + count).
        # shuffle_hash on the (smaller) key side — the q21 rule: a plain
        # fact-fact anti join plans SMJ and pays two full sorts; sf10
        # A/B on the lineitem->orders leg: SMJ slowest, hinted SHJ
        # 2.85 s, aggregate-before-join 3.35 s (1.5M distinct keys
        # barely collapse map-side), broadcast 8.34 s (1.5M-key hash
        # table built and shipped to every thread) — SHJ wins.
        v = (
            fact.select(fk)
            .join(
                dim.select(pk).hint("shuffle_hash"),
                F.col(fk) == F.col(pk),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        )
        return (
            n_df.select(F.col("n").alias("n_checked"))
            .crossJoin(v)
            .select(
                F.lit(rule).alias("rule"), "n_checked", "n_violations"
            )
        )

    ri1 = ri_row(
        "ri: orders.o_custkey -> customer.c_custkey",
        o_agg, orders, "o_custkey", cust, "c_custkey",
    )
    ri2 = ri_row(
        "ri: lineitem.l_orderkey -> orders.o_orderkey",
        li_agg, li, "l_orderkey", orders, "o_orderkey",
    )
    return (
        li_rows.unionByName(o_rows)
        .unionByName(c_rows)
        .unionByName(ri1)
        .unionByName(ri2)
        .orderBy("rule")
    )


def ext_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch per language (r17) — the fifth
    mergeable sketch, completing the family: HLL (how many distinct),
    KMV (how similar), CMS (how often), histogram (how distributed),
    Bloom (IS x PRESENT) — in fixed space with NO false negatives. At
    100 TB this is the contamination / allowlist / join-pruning
    primitive: a 32 KB filter per shard answers "did this shard ever
    see token x" without touching the shard again, and filters from
    different days/sources union by cell-wise bit OR — like HLL's max,
    the cheapest combine, so per-partition filters ARE the partial
    aggregate (plan: partial_bit_or collapses each map task to ≤
    |langs|·8192 word rows before the ONE exchange).

    Geometry (operators/sketch.py): M = 2^18 bits as 32-bit words in
    BIGINT cells (positive masks — no sign traps in bit_or/bit_count on
    either engine; DuckDB overflow-errors on 1<<63), K = 4 probes
    Kirsch–Mitzenmacher-derived from ONE xxhash64 (the r17 portable
    contract, replayed by the generated XXH64 chain). Probe set = the
    distinct tokens of doc_id < 5 (the contamination idiom) tested
    against EVERY language's filter; membership = all 4 bits set,
    counted as 4 joined bit-hit rows so even self-colliding probe
    positions need no distinct. Output per lang: (lang, n_bits_set,
    n_probe_hits, n_probes) — exact integers, bit-for-bit
    cross-engine. The no-false-negative guarantee (every probe token
    actually present in a lang's corpus MUST hit its filter) is pinned
    by a unit test; NULL langs keep their sketch row (eqNullSafe /
    IS NOT DISTINCT FROM, the hll_merge rule)."""
    from flink_cdc_multi_spark.operators.sketch import (
        BLOOM_K,
        BLOOM_M,
        BLOOM_WORD,
        bloom_h1_h2,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.trim("text") != "")
    toks = base.select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("token")
    )

    def positions(df):
        h1, h2 = bloom_h1_h2(F.col("token"))
        pos = F.explode(
            F.array(*[((h1 + F.lit(i) * h2) % BLOOM_M) for i in range(BLOOM_K)])
        ).alias("p")
        return df.select(*df.columns, pos).select(
            *df.columns,
            F.expr(f"p div {BLOOM_WORD}").alias("word"),
            # expr form: F.shiftleft only takes a literal shift count
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(p % {BLOOM_WORD} AS INT))"
            ).alias("mask"),
        )

    sketch = (
        positions(toks.select("lang", "token"))
        .groupBy("lang", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    nb = sketch.groupBy("lang").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_bits_set")
    )
    probes = (
        base.filter(F.col("doc_id") < 5)
        .select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    n_probes = probes.agg(F.count("*").cast("bigint").alias("n_probes"))
    hits = (
        positions(probes)
        .join(F.broadcast(sketch), "word")
        .filter(F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("nhit"))
        .filter(F.col("nhit") == BLOOM_K)
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_probe_hits"))
        .withColumnRenamed("lang", "h_lang")
    )
    return (
        nb.join(hits, nb["lang"].eqNullSafe(hits["h_lang"]), "left")
        .crossJoin(F.broadcast(n_probes))
        .select(
            "lang",
            "n_bits_set",
            F.coalesce(F.col("n_probe_hits"), F.lit(0).cast("bigint")).alias(
                "n_probe_hits"
            ),
            "n_probes",
        )
    )


def ext_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters with bounded state (r17): the top-32
    tokens of the documents corpus by Misra–Gries lower-bound counters,
    sharded by source — the batch twin of topk_freq_stream and the
    consumer the CMS candidate feed was missing. Every value is exact
    integer arithmetic (counts, ranked thresholds, decrements), so the
    oracle replays it bit-for-bit; rnk is the deterministic
    (est_lb DESC, token ASC) ranking."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        "source", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    return mg_topk_over(toks, "token", "source", _MG_K)


def ext_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-token sketch per language (r16) —
    THE industry-standard mergeable distinct counter (Flajolet et al.
    2007), complementing ext_sketch_kmv: where KMV keeps the k smallest
    hashes (needs a distinct + a per-group top-k), HLL keeps one 6-bit
    register per bucket and merges by MAX — the cheapest possible
    combine, and the exact reason it is the 100 TB profiling shape:
    per-partition register maxima collapse map-side (partial agg), the
    exchange carries ≤ |langs|·64 rows per task, and sketches from
    different days/shards union by the same groupBy(max).

    Spark's own approx_count_distinct is HLL± with an engine-private
    hash — correct but not oracle-gateable. This form is DETERMINISTIC
    and portable: the hash is ONE JVM xxhash64 call (seed 42) — since
    r17 the ORACLE replays those exact bits through the generated
    DuckDB XXH64 chain (functions/xxh64_sql), so the production fast
    path IS the gated path (the md5-hash60 contract it replaces cost
    md5 + base-16 conv per distinct token, the measured sf10 scan wall:
    3.0 vs 1.7 s over 500k docs, PERF.md r16). Register index = top 6
    bits (shiftrightunsigned = unsigned ``//2^58`` in the oracle),
    rho = leading-zero rank of the remaining 58 bits capped at 55 — the
    oracle renders it as a string position (lpad(bin(rem)) then first
    '1'), the Spark side as a value-identical 6-step integer binary
    search (no float log2 whose libm rounding could diverge engines; no
    per-token string alloc). The sketch fields (v_filled,
    harmonic_scaled = Σ 2^(55−M[j]) + empties·2^55, exact int64) cross
    the gate as integers per the ratio rule; the estimate adds ONE
    floating op — floor(C / CAST(harmonic AS DOUBLE)) with C a shared
    decimal literal — which is IEEE-exact and identical cross-engine.
    No distinct pre-pass: MAX absorbs repeated tokens, so unlike KMV the
    token stream is never distinct-shuffled. The standard small-range
    correction (raw ≤ 5m/2 and some register empty → linear counting
    m·ln(m/V_empty)) is applied through the _HLL_LC table of 63
    PRE-COMPUTED integers shared verbatim by both engines — ln() is
    libm- not IEEE-specified and must never execute inside either
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    # r17: the gated form IS the production fast path now — the oracle
    # replays xxhash64 exactly via the generated XXH64 chain
    # (functions/xxh64_sql), so the md5+conv tax is no longer the price
    # of replayability. The r16 per-doc array_distinct pre-pass is GONE
    # with it: it paid for itself only while the hash was expensive
    # (md5+conv per occurrence); with one cheap JVM hash per occurrence
    # the register MAX absorbs duplicates for free and the array
    # build/dedup is pure overhead (same-session ABAB at sf10: 1.68 →
    # 1.50 s, bit-equal results). The oracle dedups (lang, token) globally instead —
    # value-identical, each engine dedups where it is cheapest.
    toks = docs.filter(F.trim("text") != "").select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    return hll_sketch_over(toks, ["lang"], "token")


def hll_sketch_over(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """HLL distinct sketch of ``value_col`` per ``group_cols`` — the
    value-parameterized core of ext_sketch_hll (the graph_pagerank_over
    factoring): one JVM xxhash64 call per value, replayed bit-exact by
    the oracle's generated DuckDB XXH64 chain (functions/xxh64_sql),
    then the 64 registers / rho / fixed-point harmonic sum /
    shared-table linear counting of operators/sketch.

    NULL values are dropped (r16 review): xxhash64(NULL) would silently
    count NULL as one distinct value (and a NULL-valued hash would land
    a phantom 65th register, driving v_filled past 64). NULL is not a
    value — the count-distinct convention both engines share."""
    df = df.filter(F.col(value_col).isNotNull())
    # j/rho + register-cap rationale live in operators/sketch.hll_j_rho
    # (r16 extraction — the streaming counter shares them verbatim)
    j, rho = hll_j_rho(F.col(value_col))
    regs = (
        df.select(*group_cols, j.alias("j"), rho.alias("rho"))
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("m"))
    )
    return hll_finalize(regs, group_cols)


def ext_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL shard-merge rollup (r16): the property that makes HLL the
    100 TB profiling sketch is MERGEABILITY — per-shard sketches union
    by element-wise register max, so a daily/source-sharded pipeline
    never revisits raw data to get corpus totals. This query PINS that
    property cross-engine: build an independent sketch per
    (lang, source) shard, merge the shards per lang by max-of-maxes,
    and finalize — the oracle replays the same TWO-LEVEL merge, and the
    result must equal the direct one-level ext_sketch_hll sketch
    bit-for-bit (same registers either way; asserted as a unit test,
    not just implied). Output adds n_shards (distinct sources folded
    per lang) so the contract differs from ext_sketch_hll's and the
    gate hashes a genuinely different result.

    Scale shape: the shard build is the same partial_max collapse
    (map tasks → ≤ |lang·source|·64 rows before ONE exchange); the
    merge and finalize run on sketch-sized data (|groups|·64 rows) —
    at 100 TB the second level costs nothing. n_shards is a
    count_distinct over shard-sketch rows — sketch-sized input, so the
    Expand fan-out rule for corpus-sized mixed aggregates does not
    apply (and it is the ONLY aggregate in its groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    # r17: no array_distinct pre-pass (see ext_sketch_hll — MAX absorbs
    # duplicates; the dedup only paid for itself under the md5 contract)
    toks = docs.filter(F.trim("text") != "").select(
        "lang",
        "source",
        F.explode(X.tokens(F.col("text"))).alias("token"),
    )
    j, rho = hll_j_rho(F.col("token"))
    shard_regs = (
        toks.select("lang", "source", j.alias("j"), rho.alias("rho"))
        .groupBy("lang", "source", "j")
        .agg(F.max("rho").alias("m"))
    )
    merged = shard_regs.groupBy("lang", "j").agg(F.max("m").alias("m"))
    n_shards = shard_regs.groupBy("lang").agg(
        F.count_distinct("source").cast("bigint").alias("n_shards")
    ).withColumnRenamed("lang", "nsh_lang")
    fin = hll_finalize(merged, ["lang"])
    # NULL-safe join: a NULL-lang shard group must keep its sketch row
    # (a plain equi-join would drop it on BOTH engines — consistent but
    # lossy vs ext_sketch_hll; oracle uses IS NOT DISTINCT FROM)
    return fin.join(
        n_shards, fin["lang"].eqNullSafe(n_shards["nsh_lang"])
    ).select(
        "lang", "n_shards", "v_filled", "harmonic_scaled", "est_distinct"
    )


def profile_table(df: DataFrame, approx: bool = False) -> DataFrame:
    """Per-column row/null/distinct profile of any frame in long form
    (col_name, n_rows, n_null, n_distinct).

    Scale: ONE pass over the scan either way. With ``approx=False``
    multiple exact count_distincts compile to Catalyst's Expand (each
    input row fans out once per distinct aggregate — a deliberate
    |cols|× map-side expansion, shuffled as compact (gid, value) keys
    with partial aggs); for 6 columns that beats one job per column.
    With ``approx=True`` (VERDICT r6 item 9 — the 100×-wide-table knob)
    the distinct counts are approx_count_distinct HLL± sketches: NO
    Expand, no row fan-out, constant aggregation state per column —
    the form a 100-column 100 TB table wants. The approx path is
    engine-local (HLL± estimates differ from DuckDB's), so the exact
    form is the oracle-gated default; the approx plan shape is pinned in
    test_plan_quality (no Expand node)."""
    total = F.count(F.lit(1))
    nd = F.approx_count_distinct if approx else F.count_distinct
    aggs = [total.alias("__n")]
    for c in df.columns:
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(nd(c).alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n - __nn_{c}, __nd_{c}" for c in df.columns
    )
    return one.select(
        F.expr(
            f"stack({len(df.columns)}, {stack_args})"
            " as (col_name, n_null, n_distinct)"
        ),
        F.col("__n").alias("n_rows"),
    ).select("col_name", "n_rows", "n_null", "n_distinct")


def ext_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling over the orders table — the schema-discovery/
    data-quality pass any ingestion engine runs after landing a table
    (the batch analogue of catalog.py's Mongo sampling inference).
    Exact form (oracle-gated); see profile_table for the approx
    wide-table variant."""
    return profile_table(load_table(spark, sf_dir, "orders"), approx=False)


def ext_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase: a user
    reaches stage k only via an event of that type AT OR AFTER their
    first qualifying time for stage k-1 (a per-type unconditional min
    would count out-of-order journeys). Output: (stage, stage_name,
    n_users) — exact user counts per stage.

    Scale: ONE shuffle on user_id. The four stage times are
    partition-constant mins over the SAME window spec, so Catalyst plans
    one Exchange+Sort shared by all four Window nodes (each min feeds the
    next stage's condition — the sequential dependency that makes this
    un-expressible as a single aggregate). The final stage counts are a
    global 4-counter aggregate, partial-agg'd map-side, unpivoted with
    stack() — control-plane-sized output."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.col("ts").alias("t"))
        # pinned NULL contract: the oracle's stage JOIN ... USING
        # (user_id) drops NULL users from stages >= 2 while
        # Window.partitionBy(user_id) would advance the NULL-user funnel
        # normally — filter identically on both sides (same pattern as
        # ext_window_range / ext_events_sliding).
        .filter(F.col("user_id").isNotNull())
    )
    w = Window.partitionBy("user_id")
    stages = [("signup", None), ("view", 1), ("click", 2), ("purchase", 3)]
    df = ev
    for i, (etype, prev) in enumerate(stages, start=1):
        cond = F.col("event_type") == etype
        if prev is not None:
            cond = cond & (F.col("t") >= F.col(f"m{prev}"))
        df = df.withColumn(f"m{i}", F.min(F.when(cond, F.col("t"))).over(w))
    per_user = df.groupBy("user_id").agg(
        *[F.min(f"m{i}").alias(f"m{i}") for i in range(1, 5)]
    )
    counts = per_user.agg(*[F.count(f"m{i}").alias(f"c{i}") for i in range(1, 5)])
    return counts.select(
        F.expr(
            "stack(4, 1, 'signup', c1, 2, 'view', c2, 3, 'click', c3,"
            " 4, 'purchase', c4) as (stage, stage_name, n_users)"
        )
    ).select(F.col("stage").cast("bigint").alias("stage"), "stage_name", "n_users")


def ext_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active date, then
    counted per (cohort, day-offset) of later activity — the standard
    curve behind 'day-N retention'. Output: (cohort_dt, day_offset,
    n_users), exact integers.

    Scale: TWO exchanges total. One groupBy(user_id) builds the per-user
    DISTINCT-day set (collect_set state is bounded by the calendar span —
    a year is ≤366 dates per user, safe partial-agg state even when one
    user has billions of events, which the map-side set dedup collapses);
    cohort = array_min of that set, offsets come from a row-local explode,
    and the final (cohort × offset) aggregate is cell-count-sized. The
    naive distinct→groupBy→join→groupBy formulation (the oracle's shape)
    costs 4 exchanges and re-shuffles the activity stream."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        # pin the NULL contracts explicitly: collect_set silently drops
        # NULL dates but the oracle's SELECT DISTINCT keeps them, and the
        # oracle's act JOIN c USING (user_id) drops NULL-user activity
        # while groupBy(user_id) keeps NULL as a cohort — both sides
        # filter both columns so a NULL fixture row can't diverge them
        .filter(F.col("d").isNotNull() & F.col("user_id").isNotNull())
    )
    per_user = ev.groupBy("user_id").agg(F.collect_set("d").alias("days"))
    return (
        per_user.select(
            F.array_min("days").alias("cohort_dt"), F.explode("days").alias("d")
        )
        # days is a per-user SET, so each output row is a distinct
        # (user, day): count(*) per cell IS the distinct-user count
        .groupBy(
            "cohort_dt", F.datediff("d", "cohort_dt").cast("bigint").alias("day_offset")
        )
        .agg(F.count("*").alias("n_users"))
    )


def ext_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (time-based, not row-based): for every event of
    user_id < 10, the count and value-cents sum of the SAME user's events
    in the trailing 10-minute interval (inclusive) — the rows/range
    distinction that matters when events cluster: a ROWS frame counts a
    fixed number of neighbors, a RANGE frame counts a fixed time span.

    Scale: one shuffle+sort per user partition, same cost shape as any
    ordered window; the range frame is evaluated with a sliding pointer
    over the sorted run, not a per-row rescan. Sums are exact cents.
    NULL-ts rows are excluded on both sides (a NULL range-order key forms
    its own peer group in Spark — engine-specific, so pinned out)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 10) & F.col("ts").isNotNull()
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, 0)  # trailing 10 min in µs, inclusive
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_10m"),
        F.sum(cents).over(w).alias("cents_10m"),
    )


def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the near-dup pair graph (3-gram Jaccard
    pairs, doc_id < 500 scope) — the graph statistic behind clustering-
    coefficient quality checks on dedup graphs, and a different
    distributed-algorithm class from the CC fixpoint: NO iteration, just
    two self-joins over ORIENTED edges (a < b), which bounds the join
    fan-out by the forward-degree. Output: per-vertex triangle counts.

    Scale: the orientation trick is the standard MapReduce triangle
    algorithm (each triangle counted exactly once as a<b<c); both joins
    are equi-joins on vertex ids, partial-agg'd at the end. Edge count
    here is pair-query-sized; at corpus scale you'd run it on the LSH
    pair output the same way. The loose jaccard >= 1/50 threshold is
    deliberate: it yields a graph with actual triangles at the gate SF
    (312 edges / 24 triangles at sf0.01), so the closure logic is
    exercised, not just an empty-result match."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    e = _ngram_pair_candidates(docs, mult=50).select("a_id", "b_id")
    return graph_triangles_over(e)


def graph_triangles_over(pairs: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an ORIENTED (a_id, b_id) pair
    frame (a_id < b_id, e.g. any of the near-dup pair outputs) — the
    edge-parameterized core of ext_graph_triangles, factored (r14) so
    the sf10 harness can drive it over the LSH pair graph directly."""
    e = pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    uv, vw = e.alias("uv"), e.alias("vw")
    # wedges u<v<w, then close with the (u, w) edge. Both joins are
    # edge-list equi-joins with no useful size estimate, so the planner
    # picks SortMergeJoin and pays full sorts of every side (r17
    # optimization round, plan-audited: SortMergeJoin×2); shuffle_hash
    # hints on the edge-list build sides skip the sorts — the q21
    # filtered-fact-join rule. Build sides are the ORIENTED edge list
    # (≤ |E| rows/partition after the exchange), the bounded side of
    # the wedge fan-out.
    wedge = uv.join(
        vw.hint("shuffle_hash"), F.col("uv.v") == F.col("vw.u")
    ).select(
        F.col("uv.u").alias("u"), F.col("uv.v").alias("v"), F.col("vw.v").alias("w")
    )
    tri = wedge.join(
        e.select(F.col("u").alias("cu"), F.col("v").alias("cw")).hint(
            "shuffle_hash"
        ),
        (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
    ).select("u", "v", "w")
    per_vertex = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_vertex


def ext_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the near-dup pair graph (r13) — the
    power-iteration class of distributed graph algorithm, complementing
    the CC fixpoint (data-dependent rounds) and triangle closure (no
    rounds): 3 UNROLLED damped iterations over the symmetrized edge set,
    fully lazy (no plan-time collect — the iteration count is fixed, so
    the loop unrolls into one declarative plan of 3 join+agg stages).

    Exact-integer formulation so every engine replays it bit-for-bit
    (floating PageRank sums diverge across engines by summation order):
    pr_0 = 1,000,000 per participating vertex; contribution =
    pr div degree (integer floor); pr_{k+1} = 150,000 +
    (85 · Σ contributions) div 100 — the standard 0.15/0.85 damping on a
    10^6 fixed-point scale. Defined over edge-participating vertices
    (every vertex of the symmetrized graph has degree ≥ 1, so no
    dangling-mass term). Scale: each iteration is one equi-join of the
    edge list with the previous rank vector plus one partial-agg
    groupBy — the Pregel message-passing shape as plain shuffles; at
    100 TB the edge list is the LSH pair output and iterations stay
    join+agg (no driver state). Output: (doc_id, pr).

    r15 (VERDICT r14 item 2): the gated default is now the size-guarded
    ``broadcast_ranks`` form — node count is bounded by the documents
    row count (every graph vertex is a doc_id), read driver-side from
    the parquet footers like the commonness byte guard, failing CLOSED
    to the shuffle_hash form on remote/unreadable inputs. r14 sf10 A/B:
    10.5 s shuffle → 4.7 s broadcast on the 25M-edge graph (1.76×
    DuckDB)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    e = _ngram_pair_candidates(docs, mult=50).select("a_id", "b_id")
    node_bound = _local_input_rows(sf_dir, "documents")
    return graph_pagerank_over(
        e, broadcast_ranks=node_bound * 16 <= _PAGERANK_BCAST_BYTES
    )


def _sym_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrize an oriented (a_id, b_id) pair frame into (u, v) edges —
    as ONE explode, not a self-union (r17 optimization round): the union
    form hangs TWO copies of the whole upstream pair pipeline (shingle
    explode + self-join + jaccard agg) under every `edges` reference, so
    an unrolled iterative plan replicates the pair subtree 2× per
    iteration (ext_graph_pagerank's physical plan carried 28 parquet
    scans; runtime ReuseExchange dedups some, but every broadcast build
    still re-derives its own copy). The explode emits the same two rows
    per pair from a single upstream subtree — same rows, same types,
    half the plan."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
                F.struct(F.col("b_id").alias("u"), F.col("a_id").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def graph_pagerank_over(pairs: DataFrame, iters: int = 3,
                        broadcast_ranks: bool = False) -> DataFrame:
    """Integer PageRank over an (a_id, b_id) pair frame — the
    edge-parameterized core of ext_graph_pagerank, factored (r14) so the
    sf10 harness can drive it over the LSH pair graph directly.

    ``broadcast_ranks``: the rank/degree vectors are NODE-cardinality
    (16 bytes/node — 8 MB at 500k nodes) while the edge list is
    EDGE-cardinality; broadcasting the per-iteration contribution frame
    deletes the edge-side shuffle entirely (edges are probed in place,
    only the node-sized aggregate exchanges). r14 sf10 A/B (PERF.md):
    10.5 s shuffle form → 4.7 s broadcast form on the 25M-edge
    100-clique graph (3.36× → 1.76× DuckDB, same-session interleaved,
    checksum-matched). Caller-guarded like the commonness broadcast:
    sound while n_nodes·16B fits executor memory; at billion-node scale
    leave False and pay the shuffle_hash form.

    r17 optimization round — two structural deletions, values
    bit-identical (same integer arithmetic, verified row-equal at
    sf0.1):
    (a) `_sym_edges` explode-symmetrization (see its docstring), and
    (b) the per-iteration pr⨝deg join is GONE: in the symmetrized graph
    deg(v) equals the row count arriving at v in the very groupBy that
    sums the contributions (contrib carries exactly one row per node,
    so every edge joins exactly once), so the state frame carries
    (node, pr, deg) and each iteration is ONE join + ONE aggregate.
    The old form's contrib side nested pr's whole history under every
    deg join — plan copies grew quadratically with the iteration count
    (28 parquet scans, 21 executed broadcast builds at sf0.1; now
    linear). Same-session ABAB at sf0.1: median 3.42 → 2.54 s."""
    edges = _sym_edges(pairs.select("a_id", "b_id"))
    # state carries (node, pr, deg); the contribution pr div deg is
    # row-local on it, so no join ever touches deg again
    state = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("deg"))
        .select("node", F.lit(1_000_000).cast("bigint").alias("pr"), "deg")
    )
    for _ in range(iters):
        contrib = state.select(
            F.col("node").alias("src"), F.expr("pr div deg").alias("cv")
        )
        if broadcast_ranks:
            contrib = F.broadcast(contrib)
        else:
            # shuffle_hash on the node-cardinality side (ADVICE r13):
            # sort-merge would pay full sorts per unrolled iteration
            # (the filtered-fact-join rule; hint the SMALLER side only)
            contrib = contrib.hint("shuffle_hash")
        state = (
            edges.alias("e")
            .join(contrib.alias("c"), F.col("e.u") == F.col("c.src"))
            .groupBy(F.col("e.v").alias("node"))
            .agg(
                (F.lit(150_000) + F.expr("(85 * sum(cv)) div 100"))
                .cast("bigint")
                .alias("pr"),
                F.count("*").alias("deg"),
            )
        )
    return state.select(F.col("node").alias("doc_id"), "pr")


def ext_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (r16) — the community-detection
    member of the graph family (Raghavan et al. 2007), next to the CC
    fixpoint (connectivity), triangles (closure), and PageRank
    (centrality): LPA finds DENSE groups, which on a near-dup pair
    graph separates template families that mere connectivity fuses
    through bridge docs. Same jaccard edge set as
    ext_graph_pagerank/ext_graph_triangles.

    Deterministic contract (LPA's classic pitfall is tie randomness):
    label_0(v) = v; each of 3 UNROLLED synchronous rounds assigns
    label_{k+1}(v) = the most frequent label among v's neighbors, ties
    broken by MIN label — in Spark ONE max_by reduction per round
    (max(struct(count, -label)); never a row_number window, the
    materialization rule), in the oracle the ANSI max-count-then-min
    replay. All integer, so the hash cannot drift.

    Scale shape: each round is one equi-join of the edge list with the
    node-cardinality label vector plus two partial-agg'd groupBys — the
    Pregel message-passing shape as plain shuffles, exactly pagerank's
    plan class, and it inherits pagerank's guarded ``broadcast_labels``
    fast path (node vector ≤ bound → edges never shuffle; fail-closed
    to shuffle_hash)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    e = _ngram_pair_candidates(docs, mult=50).select("a_id", "b_id")
    node_bound = _local_input_rows(sf_dir, "documents")
    return graph_labelprop_over(
        e, broadcast_labels=node_bound * 16 <= _PAGERANK_BCAST_BYTES
    )


def graph_labelprop_over(pairs: DataFrame, iters: int = 3,
                         broadcast_labels: bool = False) -> DataFrame:
    """Synchronous LPA over an (a_id, b_id) pair frame — the
    edge-parameterized core of ext_graph_labelprop (the
    graph_pagerank_over factoring, so scale harnesses can drive it over
    LSH pair graphs directly). ``broadcast_labels`` follows
    graph_pagerank_over's contract: the label vector is node-cardinality
    (16 bytes/node), so broadcasting it deletes the per-round edge-side
    exchange; caller-guarded, leave False at billion-node scale.

    r17 optimization round: `_sym_edges` explode-symmetrization (one
    pair-pipeline copy per edge reference instead of two — see its
    docstring); values bit-identical, same-session ABAB at sf0.1
    median 3.04 → 2.81 s.

    r18 wave 1 (VERDICT r17 item 1 — the iteration fold): in the
    BROADCAST lane each round is now ONE aggregate,
    groupBy(v).agg(mode(lbl, deterministic=true)) — Spark 4's
    deterministic mode IS this operator's tie contract (most frequent
    value, ties broken by MIN; pinned against the two-agg reduction on
    a tie-hostile fixture across partial-merge boundaries, PERF.md
    "r18") — deleting the per-round
    (v, nl)-count groupBy and its exchange (2 exchanges/round → 1).
    ABAB both orders: sf0.1 1.21×/1.20×, sf10-e100 1.73×/1.08×,
    bit-identical labels + checksum. The SHUFFLE lane keeps the
    two-agg shape: the same fold measured 0.78×/0.61× there (sf10
    both orders) — mode's TypedImperativeAggregate ships per-node
    label→count map buffers through the exchange, which loses to two
    codegen'd partial-agg exchanges once the label vector itself
    shuffles; at billion-node scale the two-agg form stands."""
    edges = _sym_edges(pairs.select("a_id", "b_id"))
    labels = edges.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").cast("bigint").alias("lbl")
    )
    for _ in range(iters):
        if broadcast_labels:
            labels = (
                edges.alias("e")
                .join(F.broadcast(labels).alias("l"),
                      F.col("e.u") == F.col("l.id"))
                .groupBy(F.col("e.v").alias("id"))
                .agg(F.mode(F.col("l.lbl"), True).cast("bigint")
                     .alias("lbl"))
            )
            continue
        cnt = (
            edges.alias("e")
            .join(labels.hint("shuffle_hash").alias("l"),
                  F.col("e.u") == F.col("l.id"))
            .groupBy(F.col("e.v").alias("v"), F.col("l.lbl").alias("nl"))
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count DESC, label ASC) as ONE reduction:
        # max(struct(c, -lbl)) — lexicographic struct max
        labels = (
            cnt.groupBy(F.col("v").alias("id"))
            .agg(F.max(F.struct(F.col("c"), (-F.col("nl")).alias("neg")))
                 .alias("s"))
            .select("id", (-F.col("s.neg")).cast("bigint").alias("lbl"))
        )
    return labels.select(F.col("id").alias("doc_id"), "lbl")


def ext_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time-window aggregate: 24-hour windows every 12 hours
    (each event lands in exactly 2 windows) with row and distinct-user
    counts — the batch form of the streaming windowed aggregates in
    streaming/windows.py, using Spark's native F.window assignment.

    Scale: window assignment is a row-local explode (2 rows per event);
    one partial-agg'd groupBy on the window start. The DuckDB oracle
    reproduces the epoch-aligned window starts with integer epoch
    arithmetic (floor to the 12 h slide, minus one slide for the second
    window), so the hash pins Spark's window-alignment semantics, not
    just the counts."""
    # NULL-ts contract pinned on both sides (the retention rule): F.window
    # drops NULL timestamps, the oracle's UNION ALL would keep them
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = F.window("ts", "1 day", "12 hours")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "n_users")
    )


def ext_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured prop extraction: pull the integer `k` out of the
    JSON props column and aggregate per event type — the schema-on-read
    path every event pipeline needs (reference analogue: the Debezium
    envelope's JSON traversal, SURVEY §2.9). A value only counts as an
    integer if it LOOKS like one (^-?[0-9]+$) — pinned in BOTH engines,
    because the engines' bare try_casts disagree on decimals (Spark
    try_cast('3.5') → NULL, DuckDB TRY_CAST('3.5') → 4); the inner
    try_cast still guards the out-of-bigint-range case (NULL in both).

    Scale: get_json_object is a codegen'd JVM path (Jackson streaming,
    no UDF); one partial-agg'd groupBy on a 5-value key."""
    ev = load_table(spark, sf_dir, "events")
    ks = F.get_json_object("props", "$.k")
    # \A/\z anchors, NOT ^/$: Java's $ matches before a trailing newline
    # while RE2's does not, so '7\n' would diverge the engines under ^$;
    # \A...\z means whole-text in BOTH dialects
    k = F.when(ks.rlike(r"\A-?[0-9]+\z"), ks.try_cast("bigint"))
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def ext_cdc_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, proved against recomputation: the
    events table is read as a CDC change log (pk = event_id % 500, op =
    DELETE on 'error' else UPDATE, monotone offset = event_id), split
    into two ordered batches, and pushed through
    operators.cdc.maintain_group_agg — per-group (cnt, total-cents) of
    the CURRENT state maintained by retract-and-add deltas, never by
    re-aggregating history. The DuckDB oracle computes the same aggregate
    the opposite way (one-shot latest-image recompute), so a hash match
    IS the delta≡recompute equivalence, cross-engine. The view is SEEDED
    the documented way (maintain_group_agg docstring): batch 1 becomes
    the initial state via latest_image + a one-off groupBy; batch 2 goes
    through the full retract-and-add delta path against that non-trivial
    prior state — the handoff that carries the proof. (r7: the previous
    empty-frame seed pushed batch 1 through the delta machinery against
    empty joins Catalyst never folded — 26 exchanges / 8 sort-merge
    joins, a pure topology tax; multi-batch robustness incl. NULL groups
    and stale redeliveries stays pinned by the 5-batch randomized
    pytest.)

    Scale: each batch costs O(batch + touched groups) — pk-keyed joins
    with the batch side small (AQE broadcasts it); the only full-state
    touch is the pk anti-join. This is the operator that keeps a rolling
    aggregate over a 100 TB table maintainable at streaming cadence."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        (F.col("event_id") % 500).alias("pk"),
        (F.col("user_id") % 10).alias("g"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
        F.when(F.col("event_type") == "error", "DELETE")
        .otherwise("UPDATE")
        .alias("_op"),
        F.col("event_id").alias("_pos"),
    )
    state = C.latest_image(
        log.filter(F.col("_pos") < 5000), ["pk"], ["_pos"], drop_deletes=False
    )
    live = state.filter(F.col("_op") != "DELETE")
    agg = live.groupBy("g").agg(
        F.count("*").alias("cnt"),
        F.sum(F.coalesce(F.col("v"), F.lit(0).cast("long"))).alias("total"),
    )
    _, agg = C.maintain_group_agg(
        state, agg, log.filter(F.col("_pos") >= 5000), ["pk"], "g", "v", ["_pos"]
    )
    return agg


def ext_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the event props payload: sequential email → IPv4 →
    digit-run redaction with per-row match counts (operators.text.redact
    — counting precedes each replacement, so a digit inside an email is
    counted once, as an email). Scoped to event_id < 4000 to keep the
    gate result compact; the operator is unbounded (a scan-side map)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    red, n = X.redact(F.col("props"))
    return ev.select(
        "event_id", red.alias("redacted"), n.alias("n_redactions")
    )


EXT_QUERIES = {
    "ext_dedup_exact": ext_dedup_exact,
    "ext_dedup_urls": ext_dedup_urls,
    "ext_dedup_fingerprint": ext_dedup_fingerprint,
    "ext_dedup_ngram": ext_dedup_ngram,
    "ext_dedup_embedding": ext_dedup_embedding,
    "ext_dedup_embedding_lsh": ext_dedup_embedding_lsh,
    "ext_dedup_semantic": ext_dedup_semantic,
    "ext_dedup_semantic_trained": ext_dedup_semantic_trained,
    "ext_dedup_lines": ext_dedup_lines,
    "ext_dedup_spans": ext_dedup_spans,
    "ext_dedup_spans_drop": ext_dedup_spans_drop,
    "ext_text_bpe_learn": ext_text_bpe_learn,
    "ext_dedup_minhash": ext_dedup_minhash,
    "ext_dedup_simhash": ext_dedup_simhash,
    "ext_ann_topk": ext_ann_topk,
    "ext_ann_lsh": ext_ann_lsh,
    "ext_ann_ivf": ext_ann_ivf,
    "ext_ann_pq": ext_ann_pq,
    "ext_ann_ivfpq": ext_ann_ivfpq,
    "ext_ann_ivfpq_res": ext_ann_ivfpq_res,
    "ext_ann_ivfpq_indexed": ext_ann_ivfpq_indexed,
    "ext_ann_ivfpq_trained": ext_ann_ivfpq_trained,
    "ext_text_quality": ext_text_quality,
    "ext_text_langid": ext_text_langid,
    "ext_curation_pipeline": ext_curation_pipeline,
    "ext_text_tokens_by_lang": ext_text_tokens_by_lang,
    "ext_multimodal_bytes": ext_multimodal_bytes,
    "ext_multimodal_dims": ext_multimodal_dims,
    "ext_multimodal_luma": ext_multimodal_luma,
    "ext_multimodal_resize": ext_multimodal_resize,
    "ext_multimodal_frames": ext_multimodal_frames,
    "ext_multimodal_video": ext_multimodal_video,
    "ext_multimodal_dhash": ext_multimodal_dhash,
    "ext_dedup_images": ext_dedup_images,
    "ext_embed_quantize": ext_embed_quantize,
    "ext_pack_sequences": ext_pack_sequences,
    "ext_pack_bpe": ext_pack_bpe,
    "ext_rollup_agg": ext_rollup_agg,
    "ext_window_running": ext_window_running,
    "ext_sessionize": ext_sessionize,
    "ext_cdc_scd2": ext_cdc_scd2,
    "ext_asof_join": ext_asof_join,
    "ext_sample_stratified": ext_sample_stratified,
    "ext_mixture_sample": ext_mixture_sample,
    "ext_text_commonness": ext_text_commonness,
    "ext_text_tfidf": ext_text_tfidf,
    "ext_layout_zorder": ext_layout_zorder,
    "ext_text_bigrams": ext_text_bigrams,
    "ext_text_vocab": ext_text_vocab,
    "ext_contamination": ext_contamination,
    "ext_text_repetition": ext_text_repetition,
    "ext_text_bpe": ext_text_bpe,
    "ext_text_quality_score": ext_text_quality_score,
    "ext_dedup_clusters": ext_dedup_clusters,
    "ext_dedup_cluster_best": ext_dedup_cluster_best,
    "ext_text_chunks": ext_text_chunks,
    "ext_events_funnel": ext_events_funnel,
    "ext_events_retention": ext_events_retention,
    "ext_events_json": ext_events_json,
    "ext_events_sliding": ext_events_sliding,
    "ext_window_range": ext_window_range,
    "ext_graph_triangles": ext_graph_triangles,
    "ext_graph_pagerank": ext_graph_pagerank,
    "ext_graph_labelprop": ext_graph_labelprop,
    "ext_text_redact": ext_text_redact,
    "ext_cdc_ivm": ext_cdc_ivm,
    "ext_multimodal_audio": ext_multimodal_audio,
    "ext_multimodal_audiohash": ext_multimodal_audiohash,
    "ext_multimodal_jpeg": ext_multimodal_jpeg,
    "ext_multimodal_gifbmp": ext_multimodal_gifbmp,
    "ext_events_topk": ext_events_topk,
    "ext_embed_centroid": ext_embed_centroid,
    "ext_profile_orders": ext_profile_orders,
    "ext_sketch_kmv": ext_sketch_kmv,
    "ext_sketch_hll": ext_sketch_hll,
    "ext_sketch_hll_merge": ext_sketch_hll_merge,
    "ext_sketch_kmv_jaccard": ext_sketch_kmv_jaccard,
    "ext_sample_weighted": ext_sample_weighted,
    "ext_events_interval_join": ext_events_interval_join,
    "ext_sketch_cms": ext_sketch_cms,
    "ext_topk_freq": ext_topk_freq,
    "ext_sketch_bloom": ext_sketch_bloom,
    "ext_quality_expectations": ext_quality_expectations,
    "ext_text_scripts": ext_text_scripts,
    "ext_events_motif": ext_events_motif,
    "ext_events_outliers": ext_events_outliers,
    "ext_sketch_histogram": ext_sketch_histogram,
    "ext_split_by_content": ext_split_by_content,
    "ext_sample_kcenter": ext_sample_kcenter,
    "ext_dedup_priority": ext_dedup_priority,
    "ext_budget_sample": ext_budget_sample,
}

# DuckDB oracles for the deterministic (non-hash-dependent) extensions.
# Shared reachability-closure CTE chain for the near-dup cluster oracles
# (r14 review finding: ext_dedup_cluster_best hand-copied these ~25 lines
# from ext_dedup_clusters — a future scope/threshold edit to one copy
# would silently gate the two queries against DIFFERENT clusterings).
# `t` carries `text` so score-consuming composers can reuse it.
_NEARDUP_CLOSURE_CTES = r"""t AS (
          SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 300
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                 END sh
          FROM t
        ), e AS (
          SELECT doc_id, len(sh) n_sh, unnest(sh) shingle FROM s
        ), pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) * 5 >= any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*)
        ), edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs
        ), walk AS (
          SELECT doc_id AS id, doc_id AS r FROM t
          UNION
          SELECT w.id, e2.dst FROM walk w JOIN edges e2 ON e2.src = w.r
        )"""

EXT_ORACLE_SQL = {
    "ext_text_chunks": r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 100 AND trim(text) <> ''
        )
        , c AS (
          SELECT doc_id, toks,
                 unnest(range(CAST(ceil(len(toks)/24.0) AS BIGINT))) AS chunk_id
          FROM t
        )
        SELECT doc_id, chunk_id,
               array_to_string(toks[chunk_id*24+1 : chunk_id*24+32], ' ') AS chunk_text,
               CAST(least(32, len(toks) - chunk_id*24) AS BIGINT) AS n_tokens
        FROM c WHERE chunk_id*24 < len(toks)
        ORDER BY doc_id, chunk_id
    """,
    "ext_dedup_clusters": f"""
        WITH RECURSIVE {_NEARDUP_CLOSURE_CTES}
        SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
        FROM walk GROUP BY id ORDER BY doc_id
    """,
    "ext_text_repetition": r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 END sh
          FROM t
        )
        SELECT doc_id,
               CAST(len(sh) AS BIGINT) AS n_shingles,
               -- raw-string distinct (r10, moved together with the
               -- engine: doc-local distinct needs no hash; byte-equality
               -- of strings is engine-identical)
               CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct
        FROM s ORDER BY doc_id
    """,
    "ext_text_vocab": r"""
        WITH t AS (
          SELECT list_distinct(regexp_split_to_array(trim(text), '\s+')) toks
          FROM documents WHERE trim(text) <> ''
        ), e AS (
          SELECT unnest(toks) AS token FROM t
        )
        SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
        FROM e GROUP BY token
        HAVING COUNT(*) >= 2
        ORDER BY doc_freq DESC, token LIMIT 30
    """,
    "ext_contamination": rf"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 END sh
          FROM t
        ), shx AS (
          SELECT doc_id, sh2.shingle AS shingle
          FROM s, unnest(s.sh) AS sh2(shingle)
        ), dsh AS (
          SELECT DISTINCT shingle FROM shx
        ),
        {xxh64_cte('dsh', ['shingle'], 'shingle', prefix='ct')},
        cmap AS (
          SELECT shingle, {xxh64_signed_expr('h')} AS h FROM ct_h
        ), e AS (
          -- distinct xxhash64 per doc (r17 fast lane, was md5-hash60):
          -- mirrors the engine's compact-shuffle form (counts are
          -- hash-distinct in BOTH engines, so a 64-bit collision cannot
          -- diverge them); the chain prices per DISTINCT shingle
          SELECT DISTINCT shx.doc_id, cmap.h
          FROM shx JOIN cmap USING (shingle)
        ), n AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM e GROUP BY doc_id
        ), probe AS (
          SELECT DISTINCT h FROM e WHERE doc_id < 5
        )
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared,
               CAST(any_value(n.n_sh) AS BIGINT) AS n_sh
        FROM e c JOIN n USING (doc_id) JOIN probe p USING (h)
        WHERE c.doc_id >= 5
        GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    "ext_dedup_urls": r"""
        -- same messy-URL synthesis as the Spark side (CASE arms by
        -- doc_id residues; % is sign-of-dividend in BOTH engines, so
        -- adversarial negative doc_ids take identical branches), then
        -- the url_canonicalize chain in RE2 syntax ('g' flags to match
        -- Java replaceAll; backrefs as \n). r16: port strip anchored to
        -- the authority, re-anchor class excludes '&', and the synthesis
        -- grew &page=/&ref= arms that pin the multi-param contract.
        WITH d AS (
          SELECT doc_id,
            concat(
              CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END,
              CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
              'site', CAST(doc_id % 50 AS VARCHAR), '.example.com',
              CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END,
              '/page/', CAST(doc_id % 20 AS VARCHAR),
              CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
              CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END,
              CASE WHEN doc_id % 2 = 0
                   THEN '&page=' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END,
              CASE WHEN doc_id % 7 = 0 THEN '&ref=home' ELSE '' END,
              CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END
            ) AS url
          FROM documents
        ), c AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(
              lower(url),
              -- explicit whitespace class (Java \s has \x0b, RE2's does
              -- not — both engines spell the same six chars; r15 review)
              '[' || chr(32) || chr(9) || chr(10) || chr(11) || chr(12)
                  || chr(13) || ']', '', 'g'),
              '#.*', '', 'g'),
              '^https?://', '', 'g'),
              '^www\.', '', 'g'),
              '^([^/?]*):(80|443)(/|\?|$)', '\1\3', 'g'),
              '[?&]utm_[^&#]*', '', 'g'),
              '^([^?&]*)&', '\1?', 'g'),
              '\?$', '', 'g'),
              '/$', '', 'g') AS url_canon
          FROM d
        )
        SELECT url_canon,
               CAST(COUNT(*) AS BIGINT) AS n_dups,
               MIN(doc_id) AS keep_id
        FROM c GROUP BY url_canon ORDER BY url_canon
    """,
    "ext_dedup_exact": """
        -- COALESCE mirrors exact_dedup's concat_ws digest, which folds a
        -- NULL text into the same group as the empty string
        SELECT doc_id FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY md5(COALESCE(text, ''))
                                    ORDER BY doc_id) rn
          FROM documents) t
        WHERE rn = 1 ORDER BY doc_id
    """,
    "ext_dedup_fingerprint": r"""
        SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
               COUNT(*) AS n
        FROM documents GROUP BY fp ORDER BY fp
    """,
    "ext_dedup_ngram": r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 300
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                 END sh
          FROM t
        ), e AS (
          SELECT doc_id, len(sh) n_sh, unnest(sh) shingle FROM s
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter,
               any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*) AS union_sz
        FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) * 5 >= any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*)
        ORDER BY a_id, b_id
    """,
    "ext_dedup_minhash": r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 300
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                 END sh
          FROM t
        ), e AS (
          SELECT doc_id, unnest(sh) shingle FROM s
        ), ks AS (
          SELECT doc_id, shingle, unnest(range(16)) k FROM e
        ), sigl AS (
          SELECT doc_id, k,
                 MIN(('0x' || substr(md5(k || ':' || shingle), 1, 15))::BIGINT) AS mh
          FROM ks GROUP BY doc_id, k
        ), sig AS (
          SELECT doc_id, list(mh ORDER BY k) AS sig FROM sigl GROUP BY doc_id
        ), banded AS (
          SELECT doc_id, sig, b.b AS band,
                 sig[b.b*4+1 : b.b*4+4] AS bslice
          FROM sig, range(4) b(b)
        ), cand AS (
          -- candidate = identical band SLICE (the banding definition;
          -- no bucket hash), emitted once per pair: only the FIRST band
          -- whose slices agree survives (mirrors _banded_pairs_fused)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 a.sig AS sa, b.sig AS sb
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bslice = b.bslice AND a.doc_id < b.doc_id
          WHERE a.band = list_position(
                  list_transform(range(4),
                    j -> a.sig[j*4+1 : j*4+4] = b.sig[j*4+1 : j*4+4]),
                  true) - 1
        )
        SELECT a_id, b_id,
               CAST(len(list_filter(range(16), i -> sa[i+1] = sb[i+1])) AS BIGINT)
                 AS n_agree
        FROM cand
        WHERE len(list_filter(range(16), i -> sa[i+1] = sb[i+1])) >= 8
        ORDER BY a_id, b_id
    """,
    "ext_dedup_simhash": r"""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) t
          FROM documents WHERE doc_id < 300 AND trim(text) <> ''
        ), h AS (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT hv FROM tok
        ), bits AS (
          SELECT doc_id, b.b,
                 SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) s
          FROM h, (SELECT unnest(range(60)) b) b
          GROUP BY doc_id, b.b
        ), sh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                   AS simhash
          FROM bits GROUP BY doc_id
        ), blk AS (
          SELECT doc_id, simhash, b.b AS blk,
                 (simhash >> (b.b * 15)) & 32767 AS blk_val
          FROM sh, range(4) b(b)
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(MIN(bit_count(xor(a.simhash, b.simhash))) AS BIGINT) AS hamming
        FROM blk a JOIN blk b
          ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING MIN(bit_count(xor(a.simhash, b.simhash))) <= 3
        ORDER BY a_id, b_id
    """,
    "ext_dedup_embedding": """
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings
          WHERE vec_id < 1000 AND embedding IS NOT NULL
            AND len(embedding) = 64
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
        ORDER BY a_id, b_id
    """,
    "ext_dedup_embedding_lsh": """
        WITH sgn AS (
          SELECT p, i, CASE WHEN ('0x' || substr(md5(p || ':' || i), 1, 15))::BIGINT % 2 = 1
                            THEN 1 ELSE -1 END AS s
          FROM range(6) t1(p), range(64) t2(i)
        ), comp AS (
          SELECT vec_id, t.i, CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q
          FROM embeddings, range(64) t(i)
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), dots AS (
          SELECT c.vec_id, s.p, SUM(s.s * c.q) AS d
          FROM comp c JOIN sgn s ON s.i = c.i GROUP BY c.vec_id, s.p
        ), buckets AS (
          SELECT vec_id, CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id
        ), e AS (
          SELECT em.vec_id, CAST(em.embedding AS DOUBLE[]) emb, b.bucket
          FROM embeddings em JOIN buckets b USING (vec_id)
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
        ORDER BY a_id, b_id
    """,
    "ext_ann_ivf": """
        WITH comp AS (
          SELECT vec_id, t.i, CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q
          FROM embeddings, range(64) t(i)
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), cent AS (
          SELECT vec_id AS cid, i, q FROM comp WHERE vec_id BETWEEN 20 AND 35
        ), d2c AS (
          SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
          FROM comp c JOIN cent ct USING (i)
          WHERE c.vec_id >= 20 GROUP BY c.vec_id, ct.cid
        ), cells AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d2c) WHERE rn = 1
        ), d2c_q AS (
          SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
          FROM comp c JOIN cent ct USING (i)
          WHERE c.vec_id < 20 GROUP BY c.vec_id, ct.cid
        ), probes AS (
          SELECT vec_id AS qid, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d2c_q) WHERE rn <= 4
        ), e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), cand AS (
          SELECT p.qid, ce.vec_id AS nid
          FROM probes p JOIN cells ce ON ce.cid = p.cid
        ), scored AS (
          SELECT cand.qid, cand.nid,
                 ROW_NUMBER() OVER (PARTITION BY cand.qid
                   ORDER BY list_cosine_similarity(qq.emb, cc.emb) DESC, cand.nid) AS rank
          FROM cand JOIN e qq ON qq.vec_id = cand.qid JOIN e cc ON cc.vec_id = cand.nid
          -- explicit zero-norm drop (this DuckDB's zero cosine is -1.0,
          -- not NaN; the engine drops the pair)
          WHERE list_dot_product(qq.emb, qq.emb) > 0
            AND list_dot_product(cc.emb, cc.emb) > 0
        )
        SELECT qid, rank, nid FROM scored WHERE rank <= 3 ORDER BY qid, rank
    """,
    # PQ replay: same q6 component space as ivf; codebooks = sub-vectors
    # of vectors 20..35 split into 8 subspaces (j = i//8); encode =
    # argmin d2 with ties to the lowest codeword id; ADC = per-(query,
    # subspace, codeword) LUT joined onto the codes; rank (dist, nid).
    "ext_ann_pq": """
        WITH comp AS (
          SELECT vec_id, t.i,
                 CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q,
                 t.i // 8 AS j, t.i % 8 AS w
          FROM embeddings, range(64) t(i)
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), cb AS (
          SELECT vec_id AS cid, j, w, q FROM comp WHERE vec_id BETWEEN 20 AND 35
        ), enc_d AS (
          SELECT c.vec_id, c.j, cb.cid, SUM((c.q - cb.q) * (c.q - cb.q)) AS d2
          FROM comp c JOIN cb ON cb.j = c.j AND cb.w = c.w
          WHERE c.vec_id >= 20
          GROUP BY c.vec_id, c.j, cb.cid
        ), codes AS (
          SELECT vec_id, j, cid FROM (
            SELECT vec_id, j, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
            FROM enc_d) WHERE rn = 1
        ), qd AS (
          SELECT c.vec_id AS qid, c.j, cb.cid, SUM((c.q - cb.q) * (c.q - cb.q)) AS d2
          FROM comp c JOIN cb ON cb.j = c.j AND cb.w = c.w
          WHERE c.vec_id < 20
          GROUP BY c.vec_id, c.j, cb.cid
        ), adc AS (
          SELECT qd.qid, codes.vec_id AS nid, CAST(SUM(qd.d2) AS BIGINT) AS dist
          FROM codes JOIN qd ON qd.j = codes.j AND qd.cid = codes.cid
          GROUP BY qd.qid, codes.vec_id
        ), ranked AS (
          SELECT qid, nid, dist,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
          FROM adc
        )
        SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist
        FROM ranked WHERE rank <= 3 ORDER BY qid, rank
    """,
    # IVF-PQ replay: the ivf cells/probes CTEs (centroids 20..35) feed
    # the pq codes/ADC CTEs (codebooks 36..51, bid) restricted to probed
    # candidates; every step is the same exact integer arithmetic.
    "ext_ann_ivfpq": """
        WITH comp AS (
          SELECT vec_id, t.i,
                 CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q,
                 t.i // 8 AS j, t.i % 8 AS w
          FROM embeddings, range(64) t(i)
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), cent AS (
          SELECT vec_id AS cid, i, q FROM comp WHERE vec_id BETWEEN 20 AND 35
        ), cb AS (
          SELECT vec_id AS bid, j, w, q FROM comp WHERE vec_id BETWEEN 36 AND 51
        ), d2cell AS (
          SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
          FROM comp c JOIN cent ct USING (i)
          WHERE c.vec_id >= 20 GROUP BY c.vec_id, ct.cid
        ), cells AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d2cell) WHERE rn = 1
        ), enc_d AS (
          SELECT c.vec_id, c.j, cb.bid, SUM((c.q - cb.q) * (c.q - cb.q)) AS d2
          FROM comp c JOIN cb ON cb.j = c.j AND cb.w = c.w
          WHERE c.vec_id >= 20
          GROUP BY c.vec_id, c.j, cb.bid
        ), codes AS (
          SELECT vec_id, j, bid FROM (
            SELECT vec_id, j, bid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, bid) AS rn
            FROM enc_d) WHERE rn = 1
        ), qcell AS (
          SELECT c.vec_id AS qid, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
          FROM comp c JOIN cent ct USING (i)
          WHERE c.vec_id < 20 GROUP BY c.vec_id, ct.cid
        ), probes AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
            FROM qcell) WHERE rn <= 4
        ), qlut AS (
          SELECT c.vec_id AS qid, c.j, cb.bid, SUM((c.q - cb.q) * (c.q - cb.q)) AS d2
          FROM comp c JOIN cb ON cb.j = c.j AND cb.w = c.w
          WHERE c.vec_id < 20
          GROUP BY c.vec_id, c.j, cb.bid
        ), cand AS (
          SELECT p.qid, ce.vec_id AS nid
          FROM probes p JOIN cells ce USING (cid)
        ), adc AS (
          SELECT cand.qid, cand.nid, CAST(SUM(qlut.d2) AS BIGINT) AS dist
          FROM cand
          JOIN codes ON codes.vec_id = cand.nid
          JOIN qlut ON qlut.qid = cand.qid
                   AND qlut.j = codes.j AND qlut.bid = codes.bid
          GROUP BY cand.qid, cand.nid
        ), ranked AS (
          SELECT qid, nid, dist,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
          FROM adc
        )
        SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist
        FROM ranked WHERE rank <= 3 ORDER BY qid, rank
    """,
    "ext_ann_lsh": """
        WITH sgn AS (
          SELECT p, i, CASE WHEN ('0x' || substr(md5(p || ':' || i), 1, 15))::BIGINT % 2 = 1
                            THEN 1 ELSE -1 END AS s
          FROM range(10) t1(p), range(64) t2(i)
        ), comp AS (
          SELECT vec_id, t.i, CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q
          FROM embeddings, range(64) t(i)
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), dots AS (
          SELECT c.vec_id, s.p, SUM(s.s * c.q) AS d
          FROM comp c JOIN sgn s ON s.i = c.i GROUP BY c.vec_id, s.p
        ), buckets AS (
          SELECT vec_id, CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id
        ), e AS (
          SELECT em.vec_id, CAST(em.embedding AS DOUBLE[]) emb, b.bucket
          FROM embeddings em JOIN buckets b USING (vec_id)
        ), q AS (SELECT * FROM e WHERE vec_id < 20),
        c AS (SELECT * FROM e WHERE vec_id >= 20),
        probes AS (
          SELECT vec_id, CASE WHEN b.b = 10 THEN bucket
                              ELSE xor(bucket, (1::BIGINT << b.b)) END AS pbucket
          FROM q, range(11) b(b)
        ), cand AS (
          SELECT DISTINCT p.vec_id AS qid, c.vec_id AS nid
          FROM probes p JOIN c ON c.bucket = p.pbucket
        ), scored AS (
          SELECT cand.qid, cand.nid,
                 ROW_NUMBER() OVER (PARTITION BY cand.qid
                   ORDER BY list_cosine_similarity(qq.emb, cc.emb) DESC, cand.nid) AS rank
          FROM cand JOIN e qq ON qq.vec_id = cand.qid JOIN e cc ON cc.vec_id = cand.nid
          WHERE list_dot_product(qq.emb, qq.emb) > 0
            AND list_dot_product(cc.emb, cc.emb) > 0
        )
        SELECT qid, rank, nid FROM scored WHERE rank <= 3 ORDER BY qid, rank
    """,
    "ext_ann_topk": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings
                   WHERE embedding IS NOT NULL AND len(embedding) = 64),
        -- zero-norm drop mirrored as an explicit norm guard: this DuckDB
        -- returns -1.0 (not NaN) for a zero-vector cosine, so an isnan
        -- filter alone would NOT drop the pair the engine drops
        q AS (SELECT * FROM e
              WHERE vec_id < 20 AND list_dot_product(emb, emb) > 0),
        c AS (SELECT * FROM e
              WHERE vec_id >= 20 AND list_dot_product(emb, emb) > 0),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) AS rank
          FROM q CROSS JOIN c
        )
        SELECT qid, rank, nid FROM scored WHERE rank <= 3 ORDER BY qid, rank
    """,
    "ext_text_quality": r"""
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
               END AS n_unique_tokens,
               length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace_chars,
               CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_est
        FROM documents WHERE lang = 'en' ORDER BY doc_id
    """,
    "ext_curation_pipeline": r"""
        WITH gated AS (
          SELECT doc_id, lang, text,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
                 END AS n_uniq
          FROM documents
          WHERE lang IN ('en', 'de')
        ), q AS (
          SELECT doc_id, lang, text, n_tokens FROM gated
          WHERE n_tokens BETWEEN 20 AND 120 AND n_uniq * 2 >= n_tokens
        ), dedup AS (
          SELECT doc_id, lang, n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM q
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM dedup WHERE rn = 1 ORDER BY doc_id
    """,
    "ext_text_langid": """
        SELECT doc_id, lang,
               CASE
                 WHEN ' ' || lower(text) || ' ' LIKE '% the %'
                   OR ' ' || lower(text) || ' ' LIKE '% and %'
                   OR ' ' || lower(text) || ' ' LIKE '% of %' THEN 'en'
                 WHEN ' ' || lower(text) || ' ' LIKE '% der %'
                   OR ' ' || lower(text) || ' ' LIKE '% und %'
                   OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
                 WHEN ' ' || lower(text) || ' ' LIKE '% le %'
                   OR ' ' || lower(text) || ' ' LIKE '% et %'
                   OR ' ' || lower(text) || ' ' LIKE '% les %' THEN 'fr'
                 WHEN ' ' || lower(text) || ' ' LIKE '% el %'
                   OR ' ' || lower(text) || ' ' LIKE '% y %'
                   OR ' ' || lower(text) || ' ' LIKE '% los %' THEN 'es'
                 ELSE 'und'
               END AS lang_pred
        FROM documents ORDER BY doc_id
    """,
    "ext_text_tokens_by_lang": r"""
        SELECT lang, source,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
                 AS total_tokens,
               CAST(SUM(CAST(CEIL(length(text) / 4.0) AS BIGINT)) AS BIGINT)
                 AS total_bpe_est,
               COUNT(*) AS n_docs
        FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    "ext_multimodal_bytes": """
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        FROM documents ORDER BY doc_id
    """,
    "ext_embed_quantize": r"""
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x))) AS scale
          FROM embeddings
        ), q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(x * 127 / scale + 0.5) AS BIGINT)) AS qv
          FROM s WHERE scale > 0
        )
        SELECT vec_id,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CAST(list_min(qv) AS BIGINT) AS q_min,
               CAST(list_max(qv) AS BIGINT) AS q_max,
               CAST(len(list_filter(qv, x -> x <> 0)) AS BIGINT) AS q_nonzero
        FROM q ORDER BY vec_id
    """,
    "ext_pack_sequences": r"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents WHERE trim(text) <> ''
        ), s AS (
          SELECT doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS start_offset
          FROM t
        )
        SELECT doc_id, n_tokens, start_offset,
               CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS start_seq,
               CAST(FLOOR((start_offset + n_tokens - 1) / 256.0) AS BIGINT)
                 AS end_seq
        FROM s ORDER BY doc_id
    """,
    # ((x % k) + k) % k = Python's floored modulo: the synth kernels run
    # in Python where % is non-negative, SQL % follows the dividend sign
    "ext_multimodal_luma": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 24) + 24) % 24 + 4 AS w,
                 ((doc_id % 16) + 16) % 16 + 4 AS h,
                 ((doc_id % 256) + 256) % 256 AS s
          FROM documents
        ), dx AS (
          SELECT doc_id, h, s, unnest(range(w)) AS x FROM d
        ), dxy AS (
          SELECT doc_id, s, x, unnest(range(h)) AS y FROM dx
        )
        SELECT doc_id,
               CAST(SUM(299 * ((s + x) % 256)
                      + 587 * ((s + y) % 256)
                      + 114 * ((s + x + y) % 256)) AS BIGINT) AS luma_sum,
               CAST(COUNT(*) AS BIGINT) AS n_px
        FROM dxy GROUP BY doc_id ORDER BY doc_id
    """,
    "ext_multimodal_dims": """
        SELECT doc_id, 'png' AS format,
               CAST(((doc_id % 640) + 640) % 640 + 16 AS BIGINT) AS width,
               CAST(((doc_id % 480) + 480) % 480 + 16 AS BIGINT) AS height,
               CAST(45 AS BIGINT) AS byte_len
        FROM documents ORDER BY doc_id
    """,
    # Closed-form replay of decode + BOTH resample kernels (the
    # ext_multimodal_luma idiom extended to resampled grids): the pixel
    # pattern L(x,y) = 299((s+x)%256)+587((s+y)%256)+114((s+x+y)%256) is
    # evaluated at the EXACT integer sample indices the numpy kernel
    # uses — floor NN (t·src)//dst and fixed-point bilinear
    # num=(2t+1)·src−dst over den=2·dst with edge clamp — so a wrong
    # index, clamp, or weight on either side breaks the hash.
    "ext_multimodal_resize": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 24) + 24) % 24 + 4 AS w,
                 ((doc_id % 16) + 16) % 16 + 4 AS h,
                 ((doc_id % 256) + 256) % 256 AS s
          FROM documents
        ), t AS (
          SELECT doc_id, w, h, s,
                 CASE WHEN GREATEST(w, h) <= 8 THEN w
                      ELSE GREATEST(1, (w * 8) // GREATEST(w, h)) END AS tw,
                 CASE WHEN GREATEST(w, h) <= 8 THEN h
                      ELSE GREATEST(1, (h * 8) // GREATEST(w, h)) END AS th
          FROM d
        ), gx AS (
          SELECT *, unnest(range(tw)) AS tx FROM t
        ), g AS (
          SELECT *, unnest(range(th)) AS ty FROM gx
        ), idx AS (
          SELECT doc_id, w, h, s, tw, th,
                 (tx * w) // tw AS nxx,
                 (ty * h) // th AS nyy,
                 ((2 * tx + 1) * w - tw) // (2 * tw) AS sx0,
                 ((2 * tx + 1) * w - tw) % (2 * tw) AS fx,
                 ((2 * ty + 1) * h - th) // (2 * th) AS sy0,
                 ((2 * ty + 1) * h - th) % (2 * th) AS fy
          FROM g
        ), c AS (
          SELECT *, LEAST(sx0 + 1, w - 1) AS sx1, LEAST(sy0 + 1, h - 1) AS sy1
          FROM idx
        )
        SELECT doc_id,
               CAST(MAX(w) AS BIGINT) AS width,
               CAST(MAX(h) AS BIGINT) AS height,
               CAST(MAX(tw) AS BIGINT) AS target_width,
               CAST(MAX(th) AS BIGINT) AS target_height,
               CAST(SUM(299 * ((s + nxx) % 256)
                      + 587 * ((s + nyy) % 256)
                      + 114 * ((s + nxx + nyy) % 256)) AS BIGINT) AS nn_luma_sum,
               CAST(SUM(
                   (2*tw - fx) * (2*th - fy) * (299 * ((s + sx0) % 256)
                       + 587 * ((s + sy0) % 256) + 114 * ((s + sx0 + sy0) % 256))
                 + fx * (2*th - fy) * (299 * ((s + sx1) % 256)
                       + 587 * ((s + sy0) % 256) + 114 * ((s + sx1 + sy0) % 256))
                 + (2*tw - fx) * fy * (299 * ((s + sx0) % 256)
                       + 587 * ((s + sy1) % 256) + 114 * ((s + sx0 + sy1) % 256))
                 + fx * fy * (299 * ((s + sx1) % 256)
                       + 587 * ((s + sy1) % 256) + 114 * ((s + sx1 + sy1) % 256))
               ) AS BIGINT) AS bil_luma_num,
               CAST(MAX(4 * tw * th) AS BIGINT) AS bil_den
        FROM c GROUP BY doc_id ORDER BY doc_id
    """,
    # Frame-clock + pixel-pattern replay for the animated-GIF sampler:
    # frame k covers [50k, 50k+50) ms, samples at 0/80/160/... below
    # nf*50, gray(f,x,y) = (s + 11f + 3x + 5y) % 256, luma = 1000*gray
    # (equal Rec.601 weights on a gray palette sum to 1000).
    "ext_multimodal_frames": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 10) + 10) % 10 + 3 AS w,
                 ((doc_id % 7) + 7) % 7 + 3 AS h,
                 ((doc_id % 4) + 4) % 4 + 2 AS nf,
                 ((doc_id % 256) + 256) % 256 AS s
          FROM documents
        ), smp AS (
          SELECT doc_id, w, h, s, unnest(range(0, nf * 50, 80)) AS ts
          FROM d
        ), fr AS (
          SELECT doc_id, w, h, s, ts, ts // 50 AS fi FROM smp
        ), gx AS (
          SELECT * , unnest(range(w)) AS x FROM fr
        ), g AS (
          SELECT *, unnest(range(h)) AS y FROM gx
        )
        SELECT doc_id,
               CAST(ts AS BIGINT) AS sample_ts_ms,
               CAST(MAX(fi) AS BIGINT) AS frame_idx,
               CAST(SUM(1000 * ((s + 11 * fi + 3 * x + 5 * y) % 256)) AS BIGINT)
                   AS luma_sum,
               CAST(MAX(w * h) AS BIGINT) AS n_px
        FROM g GROUP BY doc_id, ts ORDER BY doc_id, ts
    """,
    "ext_multimodal_video": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 3) + 3) % 3 + 1 AS bw,
                 ((doc_id % 2) + 2) % 2 + 1 AS bh,
                 ((doc_id % 4) + 4) % 4 + 2 AS nf
          FROM documents
        ), smp AS (
          SELECT doc_id, bw, bh, unnest(range(0, nf * 50, 80)) AS ts
          FROM d
        ), fr AS (
          SELECT doc_id, bw, bh, ts, ts // 50 AS fi FROM smp
        ), blk AS (
          SELECT *, unnest(range(bw * bh)) AS b FROM fr
        )
        SELECT doc_id,
               CAST(ts AS BIGINT) AS sample_ts_ms,
               CAST(MAX(fi) AS BIGINT) AS frame_idx,
               -- DC-only baseline JPEG: every pixel of block b in frame fi
               -- decodes to exactly dc + 128 (q0 = 8), 64 px per block.
               -- The residue is sign-normalized like the CTE's bw/bh/nf
               -- arms: the generator uses Python's non-negative %, DuckDB's
               -- bare % is sign-of-dividend and diverges on the adversarial
               -- fixture's negative doc_ids (r15 ADVICE).
               CAST(SUM(64 * ((((doc_id * 7 + fi * 19 + b * 13) % 201) + 201)
                             % 201 - 100 + 128))
                    AS BIGINT) AS luma_sum,
               CAST(MAX(bw * bh * 64) AS BIGINT) AS n_px
        FROM blk GROUP BY doc_id, ts ORDER BY doc_id, ts
    """,
    "ext_rollup_agg": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
    """,
    "ext_window_running": """
        SELECT user_id, event_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS seq_no,
               MAX(event_id) OVER w AS running_max_id,
               LAG(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_id
        FROM events WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
    """,
    "ext_sessionize": """
        WITH ev AS (
          -- ts IS NOT NULL mirrors the Spark side (pinned NULL contract:
          -- NULL order keys sort FIRST in Spark, LAST in DuckDB)
          SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
          WHERE ts IS NOT NULL
        ), flagged AS (
          SELECT user_id, event_id, ts_ms,
                 COALESCE(CAST(ts_ms - LAG(ts_ms, 1) OVER w > 1800000 AS INT), 0) AS new_s
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        ), sess AS (
          SELECT user_id, event_id,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_no
          FROM flagged
        )
        SELECT user_id, session_no, COUNT(*) AS n_events,
               MIN(event_id) AS first_event, MAX(event_id) AS last_event
        FROM sess GROUP BY user_id, session_no ORDER BY user_id, session_no
    """,
    "ext_cdc_scd2": """
        SELECT user_id,
               event_id AS valid_from,
               LEAD(event_id) OVER w AS valid_to,
               event_type,
               value,
               CAST(LEAD(event_id) OVER w IS NULL AS BIGINT) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    # independent formulation: DuckDB's native ASOF JOIN vs Spark's
    # union + last(ignoreNulls) ordered window
    "ext_asof_join": """
        SELECT l.user_id,
               l.event_id AS purchase_event_id,
               f.event_id AS click_event_id,
               f.value AS click_value
        FROM (SELECT user_id, event_id FROM events
              WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT user_id, event_id, value FROM events
                        WHERE event_type = 'click') f
          ON l.user_id = f.user_id AND f.event_id <= l.event_id
    """,
    "ext_text_bigrams": r"""
        WITH t AS (
          SELECT regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE trim(text) <> ''
        ), p AS (
          SELECT toks, unnest(range(len(toks) - 1)) AS i FROM t
          WHERE len(toks) >= 2
        )
        SELECT toks[i+1] || ' ' || toks[i+2] AS pair,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM p GROUP BY pair
        ORDER BY cnt DESC, pair LIMIT 30
    """,
    "ext_text_commonness": rf"""
        -- term frequencies are xxhash64 counts BY CONTRACT (r17 fast
        -- lane, was md5-hash60), mirroring the Spark side's 8-byte join
        -- key (collision-proof parity). The XXH64 chain prices per
        -- DISTINCT token; occurrences re-attach by string
        -- (value-identical: the hash is a function of the token).
        WITH rawtok AS (
          SELECT doc_id, token
          FROM (SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM documents WHERE trim(text) <> '') u
        ), dtok AS (
          SELECT DISTINCT token FROM rawtok
        ),
        {xxh64_cte('dtok', ['token'], 'token', prefix='cm')},
        hmap AS (
          SELECT token, {xxh64_signed_expr('h')} AS h FROM cm_h
        ), tok AS (
          SELECT r.doc_id, m.h FROM rawtok r JOIN hmap m USING (token)
        ), freq AS (
          SELECT h, COUNT(*) AS tf FROM tok GROUP BY h
        )
        SELECT tok.doc_id,
               CAST(SUM(freq.tf) AS BIGINT) AS tf_sum,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM tok JOIN freq USING (h)
        GROUP BY tok.doc_id ORDER BY tok.doc_id
    """,
    # Rank key tf/df is ONE IEEE-exact double division (linear-IDF
    # contract — see the Spark docstring; no libm ln on either engine);
    # the join/df identity is xxhash64 BY CONTRACT (r17 fast lane —
    # commonness pattern; the XXH64 chain prices per distinct token,
    # (doc, term) rows re-attach by string).
    "ext_text_tfidf": rf"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM documents WHERE trim(text) <> ''
        ), tf0 AS (
          SELECT doc_id, token, COUNT(*) AS tf
          FROM tok GROUP BY doc_id, token
        ), dtok AS (
          SELECT DISTINCT token FROM tf0
        ),
        {xxh64_cte('dtok', ['token'], 'token', prefix='tfi')},
        hmap AS (
          SELECT token, {xxh64_signed_expr('h')} AS h FROM tfi_h
        ), tf AS (
          SELECT tf0.doc_id, tf0.token, tf0.tf, hmap.h
          FROM tf0 JOIN hmap USING (token)
        ), dfq AS (
          SELECT h, COUNT(*) AS df FROM tf GROUP BY h
        ), scored AS (
          SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
                 row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfq.df AS DOUBLE)
                            DESC, tf.token ASC
                 ) AS rnk
          FROM tf JOIN dfq USING (h)
        )
        SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        FROM scored WHERE rnk <= {_TFIDF_TOP_K}
        ORDER BY doc_id, rnk
    """,
    "ext_mixture_sample": r"""
        WITH c AS (
          SELECT source, COUNT(*) AS cnt,
                 CAST((COALESCE(TRY_CAST(regexp_extract(source, '(\d+)$', 1)
                                         AS INT), 0) % 4) * 2 + 2 AS BIGINT) AS p
          FROM documents GROUP BY source
        ), n AS (
          SELECT MIN(cnt * 100 // p) AS n_out FROM c
        ), thr AS (
          SELECT source, CAST((n.n_out * c.p * 1000000) // (100 * c.cnt)
                              AS BIGINT) AS thr
          FROM c, n
        )
        SELECT d.doc_id, d.source
        FROM (SELECT doc_id, source,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000 AS bucket
              FROM documents) d
        JOIN thr USING (source)
        WHERE d.bucket < thr.thr
        ORDER BY d.doc_id
    """,
    "ext_sample_stratified": """
        SELECT doc_id, lang, bucket FROM (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   AS bucket
          FROM documents) t
        WHERE bucket < CASE WHEN lang = 'en' THEN 20
                            WHEN lang = 'de' THEN 50
                            ELSE 80 END
    """,
    # independent formulation: chained join+aggregate CTEs vs Spark's
    # window-min cascade over one user_id exchange
    "ext_events_funnel": """
        WITH ev AS (
          -- pinned NULL contract: mirror the Spark side's user_id IS NOT
          -- NULL filter (stage JOINs would drop NULL users from stages
          -- >= 2 only, diverging the engines on a NULL-user fixture)
          SELECT * FROM events WHERE user_id IS NOT NULL
        ), m1 AS (
          SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'signup') AS m1
          FROM ev GROUP BY user_id
        ), m2 AS (
          SELECT e.user_id,
                 MIN(e.ts) FILTER (WHERE e.event_type = 'view'
                                   AND e.ts >= m1.m1) AS m2
          FROM ev e JOIN m1 USING (user_id) GROUP BY e.user_id
        ), m3 AS (
          SELECT e.user_id,
                 MIN(e.ts) FILTER (WHERE e.event_type = 'click'
                                   AND e.ts >= m2.m2) AS m3
          FROM ev e JOIN m2 USING (user_id) GROUP BY e.user_id
        ), m4 AS (
          SELECT e.user_id,
                 MIN(e.ts) FILTER (WHERE e.event_type = 'purchase'
                                   AND e.ts >= m3.m3) AS m4
          FROM ev e JOIN m3 USING (user_id) GROUP BY e.user_id
        ), u AS (
          SELECT m1.user_id, m1.m1, m2.m2, m3.m3, m4.m4
          FROM m1 LEFT JOIN m2 USING (user_id)
                  LEFT JOIN m3 USING (user_id)
                  LEFT JOIN m4 USING (user_id)
        )
        SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name,
               CAST(COUNT(m1) AS BIGINT) AS n_users FROM u
        UNION ALL SELECT 2, 'view', COUNT(m2) FROM u
        UNION ALL SELECT 3, 'click', COUNT(m3) FROM u
        UNION ALL SELECT 4, 'purchase', COUNT(m4) FROM u
    """,
    "ext_events_retention": """
        WITH act AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
          -- user_id IS NOT NULL mirrors the Spark side (pinned NULL
          -- contract: USING-join would drop NULL users, groupBy keeps)
          WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), c AS (
          SELECT user_id, MIN(d) AS cohort_dt FROM act GROUP BY user_id
        )
        SELECT c.cohort_dt,
               CAST(act.d - c.cohort_dt AS BIGINT) AS day_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM act JOIN c USING (user_id)
        GROUP BY c.cohort_dt, day_offset
        ORDER BY c.cohort_dt, day_offset
    """,
    "ext_window_range": """
        SELECT user_id, event_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_10m,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                    AS BIGINT) AS cents_10m
        FROM (SELECT user_id, event_id, value, epoch_us(ts) AS t
              FROM events WHERE user_id < 10 AND ts IS NOT NULL) e
        WINDOW w AS (PARTITION BY user_id ORDER BY t
                     RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
    "ext_graph_pagerank": r"""
        -- integer PageRank replay (r13): same jaccard edge set as the
        -- triangles oracle, symmetrized; 3 unrolled damped iterations
        -- in exact fixed-point arithmetic (pr0 = 1e6; contribution =
        -- pr // degree; next = 150000 + (85 * sum) // 100) — integer
        -- sums are order-insensitive, so the hash can never drift on
        -- float summation order
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 500
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                 END sh
          FROM t
        ), ex AS (
          SELECT doc_id, len(sh) n_sh, unnest(sh) shingle FROM s
        ), e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) * 50 >= any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*)
        ), ed AS (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ), deg AS (
          SELECT u, COUNT(*) AS dg FROM ed GROUP BY u
        ), p0 AS (
          SELECT u AS id, 1000000::BIGINT AS pr FROM deg
        ), p1 AS (
          SELECT ed.v AS id, 150000 + (85 * SUM(p0.pr // deg.dg)) // 100 AS pr
          FROM ed JOIN p0 ON p0.id = ed.u JOIN deg ON deg.u = ed.u
          GROUP BY ed.v
        ), p2 AS (
          SELECT ed.v AS id, 150000 + (85 * SUM(p1.pr // deg.dg)) // 100 AS pr
          FROM ed JOIN p1 ON p1.id = ed.u JOIN deg ON deg.u = ed.u
          GROUP BY ed.v
        ), p3 AS (
          SELECT ed.v AS id, 150000 + (85 * SUM(p2.pr // deg.dg)) // 100 AS pr
          FROM ed JOIN p2 ON p2.id = ed.u JOIN deg ON deg.u = ed.u
          GROUP BY ed.v
        )
        SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr FROM p3
    """,
    # synchronous LPA replay (r16): same jaccard edge set; 3 unrolled
    # rounds of most-frequent-neighbor-label with MIN-label ties — the
    # ANSI max-count-then-min form of the Spark side's max(struct(c,
    # -lbl)) reduction. Each c_k is referenced TWICE (by its max and its
    # argmin join), so it must be MATERIALIZED — DuckDB's default CTE
    # inlining re-evaluates the chain exponentially in rounds (the
    # kcenter 2700x lesson, PERF.md r16).
    "ext_graph_labelprop": r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 500
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                 END sh
          FROM t
        ), ex AS (
          SELECT doc_id, len(sh) n_sh, unnest(sh) shingle FROM s
        ), e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) * 50 >= any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*)
        ), ed AS (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ), l0 AS (
          SELECT DISTINCT u AS id, u AS lbl FROM ed
        ), c1 AS MATERIALIZED (
          SELECT ed.v, l0.lbl, COUNT(*) AS c FROM ed
          JOIN l0 ON l0.id = ed.u GROUP BY ed.v, l0.lbl
        ), m1 AS (
          SELECT v, MAX(c) AS mc FROM c1 GROUP BY v
        ), l1 AS (
          SELECT c1.v AS id, MIN(c1.lbl) AS lbl
          FROM c1 JOIN m1 ON c1.v = m1.v AND c1.c = m1.mc GROUP BY c1.v
        ), c2 AS MATERIALIZED (
          SELECT ed.v, l1.lbl, COUNT(*) AS c FROM ed
          JOIN l1 ON l1.id = ed.u GROUP BY ed.v, l1.lbl
        ), m2 AS (
          SELECT v, MAX(c) AS mc FROM c2 GROUP BY v
        ), l2 AS (
          SELECT c2.v AS id, MIN(c2.lbl) AS lbl
          FROM c2 JOIN m2 ON c2.v = m2.v AND c2.c = m2.mc GROUP BY c2.v
        ), c3 AS MATERIALIZED (
          SELECT ed.v, l2.lbl, COUNT(*) AS c FROM ed
          JOIN l2 ON l2.id = ed.u GROUP BY ed.v, l2.lbl
        ), m3 AS (
          SELECT v, MAX(c) AS mc FROM c3 GROUP BY v
        ), l3 AS (
          SELECT c3.v AS id, MIN(c3.lbl) AS lbl
          FROM c3 JOIN m3 ON c3.v = m3.v AND c3.c = m3.mc GROUP BY c3.v
        )
        SELECT id AS doc_id, CAST(lbl AS BIGINT) AS lbl FROM l3
        ORDER BY doc_id
    """,
    "ext_graph_triangles": r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
          FROM documents WHERE doc_id < 500
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(range(len(toks)-2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                 END sh
          FROM t
        ), ex AS (
          SELECT doc_id, len(sh) n_sh, unnest(sh) shingle FROM s
        ), e AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) * 50 >= any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*)
        ), tri AS (
          SELECT uv.u, uv.v, vw.v AS w
          FROM e uv JOIN e vw ON uv.v = vw.u
          JOIN e c ON c.u = uv.u AND c.v = vw.v
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT u AS doc_id FROM tri
              UNION ALL SELECT v FROM tri
              UNION ALL SELECT w FROM tri) x
        GROUP BY doc_id
    """,
    # epoch-aligned window starts recomputed with integer arithmetic:
    # every event belongs to the 12h-floor window and the one 12h before
    "ext_events_sliding": """
        WITH e AS (
          SELECT user_id,
                 (epoch_us(ts) // 43200000000) * 43200000000 AS b
          FROM events WHERE ts IS NOT NULL
        ), x AS (
          SELECT user_id, b AS ws FROM e
          UNION ALL
          SELECT user_id, b - 43200000000 FROM e
        )
        SELECT make_timestamp(ws) AS win_start,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM x GROUP BY ws
    """,
    "ext_events_json": r"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(k) AS BIGINT) AS n_k,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               MIN(k) AS min_k,
               MAX(k) AS max_k
        FROM (SELECT event_type,
                     -- json_valid guard: DuckDB json_extract_string THROWS
                     -- on malformed JSON where Spark get_json_object
                     -- returns NULL
                     CASE WHEN json_valid(props)
                           AND regexp_matches(json_extract_string(props, '$.k'),
                                              '\A-?[0-9]+\z')
                          THEN TRY_CAST(json_extract_string(props, '$.k')
                                        AS BIGINT) END AS k
              FROM events) t
        GROUP BY event_type
    """,
    "ext_dedup_priority": r"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY md5(text)
                   ORDER BY COALESCE(TRY_CAST(regexp_extract(source, '(\d+)\z', 1)
                                              AS BIGINT), 999),
                            doc_id) AS rn
          FROM documents WHERE text IS NOT NULL) t
        WHERE rn = 1
    """,
    "ext_budget_sample": r"""
        WITH t AS (
          SELECT doc_id, source,
                 -- 0 for empty text, matching Spark's guarded tokens()
                 -- (DuckDB split('') would yield [''] = 1)
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+'))
                 END AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS tokens_before
          FROM t
        )
        SELECT doc_id, source, n_tokens, tokens_before
        FROM c WHERE tokens_before < 600
    """,
    # r17 fast lane: the hash is Spark's xxhash64 (seed 42), replayed
    # bit-exact by the generated XXH64 chain and reinterpreted SIGNED so
    # the k-smallest order matches Spark's BIGINT sort. DISTINCT
    # (lang, token) runs BEFORE the hash chain (value-identical — the
    # hash is a pure function of the token; the Spark side dedups AFTER
    # hashing, on the compact 8-byte key: each engine dedups where it is
    # cheapest). The post-hash DISTINCT stays: a cross-token hash
    # collision must collapse to one row on BOTH engines.
    "ext_sketch_kmv": rf"""
        WITH kmv_tok AS (
          SELECT DISTINCT lang, token
          FROM (SELECT lang,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM documents WHERE trim(text) <> '') u
        ),
        {xxh64_cte('kmv_tok', ['lang'], 'token', prefix='kmv')},
        t AS (
          SELECT DISTINCT lang, {xxh64_signed_expr('h')} AS h FROM kmv_h
        ), r AS (
          SELECT lang, h,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
          FROM t
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS k_eff,
               CAST(MAX(h) AS BIGINT) AS kth_min
        FROM r WHERE rn <= 64 GROUP BY lang
    """,
    # Interval-join replay (r16): DuckDB runs the containment as a plain
    # non-equi join (native IEJoin) — an independent formulation of the
    # Spark side's binned equi-join, the asof-oracle pattern.
    "ext_events_interval_join": """
        WITH ev AS (
          SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
          WHERE ts IS NOT NULL
        ), flagged AS (
          SELECT user_id, event_id, ts_ms,
                 COALESCE(CAST(ts_ms - LAG(ts_ms, 1) OVER w > 1800000
                               AS INT), 0) AS new_s
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        ), sess AS (
          SELECT user_id, ts_ms,
                 CAST(SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS session_no
          FROM flagged
        ), ivl AS (
          SELECT user_id, session_no,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 MIN(ts_ms) AS s_start, MAX(ts_ms) AS s_end
          FROM sess GROUP BY user_id, session_no
        )
        SELECT ivl.user_id, ivl.session_no,
               ANY_VALUE(ivl.n_events) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_concurrent
        FROM ivl JOIN ev ON ev.ts_ms BETWEEN ivl.s_start AND ivl.s_end
        GROUP BY ivl.user_id, ivl.session_no
        ORDER BY ivl.user_id, ivl.session_no
    """,
    # Weighted priority sampling replay (r16): rank = one IEEE division
    # h/w (exactly specified cross-engine), NULL n_chars filtered
    # EXPLICITLY on both sides (NULLS FIRST/LAST divergence trap).
    "ext_sample_weighted": r"""
        WITH base AS (
          SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h,
                 CAST(n_chars + 1 AS BIGINT) AS w
          FROM documents WHERE n_chars IS NOT NULL
        ), top AS (
          SELECT doc_id, h, w,
                 row_number() OVER (
                   ORDER BY CAST(h AS DOUBLE) / CAST(w AS DOUBLE) ASC,
                            doc_id ASC
                 ) AS rnk
          FROM base
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, h, w
        FROM top WHERE rnk <= 100 ORDER BY rnk
    """,
    # KMV set-operation replay (r16): per-lang k-smallest hash LISTS,
    # pair them (lang_a < lang_b — NULL langs drop on both engines),
    # U = k smallest of the union, n_match = |U ∩ A_k ∩ B_k| — the
    # Beyer et al. Jaccard estimator input as exact integers.
    "ext_sketch_kmv_jaccard": rf"""
        WITH kj_tok AS (
          SELECT DISTINCT lang, token
          FROM (SELECT lang,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM documents WHERE trim(text) <> '') u
        ),
        {xxh64_cte('kj_tok', ['lang'], 'token', prefix='kj')},
        t AS (
          SELECT DISTINCT lang, {xxh64_signed_expr('h')} AS h FROM kj_h
        ), r AS (
          SELECT lang, h,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
          FROM t
        ), s AS (
          SELECT lang, list(h ORDER BY h) AS hs
          FROM r WHERE rn <= 64 GROUP BY lang
        ), p AS (
          SELECT a.lang AS lang_a, b.lang AS lang_b,
                 a.hs AS ha, b.hs AS hb,
                 list_sort(list_distinct(a.hs || b.hs))[1:64] AS u
          FROM s a JOIN s b ON a.lang < b.lang
        )
        SELECT lang_a, lang_b,
               CAST(len(u) AS BIGINT) AS k_u,
               CAST(len(list_intersect(list_intersect(u, ha), hb))
                    AS BIGINT) AS n_match
        FROM p ORDER BY lang_a, lang_b
    """,
    "ext_sketch_hll": rf"""
        -- portable HLL over the r17 xxhash64 fast lane: register index
        -- = top 6 of the unsigned 64-bit hash (h // 2^58 replays
        -- shiftrightunsigned), rho = first-'1' STRING position over the
        -- padded binary rendering of the remaining 58 bits capped at 55
        -- (the fixed-point scale guard — Spark's F.least arm); harmonic
        -- sum on the 2^55 fixed-point scale stays in BIGINT; the single
        -- floating op (C / harmonic) uses the shared decimal literal
        -- and IEEE division, identical to the Spark side bit for bit.
        -- DISTINCT (lang, token) runs BEFORE the hash chain: the
        -- register MAX absorbs duplicates anyway (value-identical), so
        -- the XXH64 chain prices per corpus-distinct pair.
        WITH hll_tok AS (
          SELECT DISTINCT lang, token
          FROM (SELECT lang,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM documents WHERE trim(text) <> '') u
        ),
        {xxh64_cte('hll_tok', ['lang'], 'token', prefix='hll')},
        reg AS (
          SELECT lang, CAST(h // 288230376151711744::UBIGINT AS BIGINT) AS j,
                 CASE WHEN strpos(lpad(bin(CAST(h % 288230376151711744::UBIGINT
                                               AS BIGINT)), 58, '0'), '1') = 0
                      THEN 55
                      ELSE least(strpos(lpad(bin(CAST(h % 288230376151711744::UBIGINT
                                                     AS BIGINT)), 58, '0'), '1'),
                                 55)
                 END AS rho
          FROM hll_h
        ), m AS (
          SELECT lang, j, MAX(rho) AS mr FROM reg GROUP BY lang, j
        ), s AS (
          SELECT lang,
                 CAST(COUNT(*) AS BIGINT) AS v_filled,
                 CAST(SUM(1::BIGINT << (55 - mr))
                      + (64 - COUNT(*)) * (1::BIGINT << 55)
                      AS BIGINT) AS harmonic_scaled
          FROM m GROUP BY lang
        ), r AS (
          SELECT lang, v_filled, harmonic_scaled,
                 CAST(floor(1.046802484394006e+20
                            / CAST(harmonic_scaled AS DOUBLE))
                      AS BIGINT) AS raw_est
          FROM s
        )
        -- small-range correction from the SHARED precomputed integer
        -- table (_HLL_LC): ln() never executes in-engine
        SELECT lang, v_filled, harmonic_scaled,
               CASE WHEN v_filled < 64 AND raw_est <= 160
                    THEN CAST(list_extract([{', '.join(str(x) for x in _HLL_LC)}],
                                           CAST(v_filled AS INT)) AS BIGINT)
                    ELSE raw_est END AS est_distinct
        FROM r ORDER BY lang
    """,
    # Two-level merge replay of ext_sketch_hll_merge: per-(lang, source)
    # shard registers, then max-of-maxes per lang — the mergeability
    # contract. Same hash/rho/estimator arms as ext_sketch_hll above.
    "ext_sketch_hll_merge": rf"""
        WITH hm_tok AS (
          SELECT DISTINCT lang, source, token
          FROM (SELECT lang, source,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM documents WHERE trim(text) <> '') u
        ),
        {xxh64_cte('hm_tok', ['lang', 'source'], 'token', prefix='hm')},
        reg AS (
          SELECT lang, source,
                 CAST(h // 288230376151711744::UBIGINT AS BIGINT) AS j,
                 CASE WHEN strpos(lpad(bin(CAST(h % 288230376151711744::UBIGINT
                                               AS BIGINT)), 58, '0'), '1') = 0
                      THEN 55
                      ELSE least(strpos(lpad(bin(CAST(h % 288230376151711744::UBIGINT
                                                     AS BIGINT)), 58, '0'), '1'),
                                 55)
                 END AS rho
          FROM hm_h
        ), shard AS (
          SELECT lang, source, j, MAX(rho) AS mr
          FROM reg GROUP BY lang, source, j
        ), merged AS (
          SELECT lang, j, MAX(mr) AS mr FROM shard GROUP BY lang, j
        ), nsh AS (
          SELECT lang, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_shards
          FROM shard GROUP BY lang
        ), s AS (
          SELECT lang,
                 CAST(COUNT(*) AS BIGINT) AS v_filled,
                 CAST(SUM(1::BIGINT << (55 - mr))
                      + (64 - COUNT(*)) * (1::BIGINT << 55)
                      AS BIGINT) AS harmonic_scaled
          FROM merged GROUP BY lang
        ), r AS (
          SELECT lang, v_filled, harmonic_scaled,
                 CAST(floor(1.046802484394006e+20
                            / CAST(harmonic_scaled AS DOUBLE))
                      AS BIGINT) AS raw_est
          FROM s
        )
        SELECT r.lang, nsh.n_shards, v_filled, harmonic_scaled,
               CASE WHEN v_filled < 64 AND raw_est <= 160
                    THEN CAST(list_extract([{', '.join(str(x) for x in _HLL_LC)}],
                                           CAST(v_filled AS INT)) AS BIGINT)
                    ELSE raw_est END AS est_distinct
        FROM r JOIN nsh ON r.lang IS NOT DISTINCT FROM nsh.lang
        ORDER BY r.lang
    """,
    # count-min sketch: d=4 rows x w=256 cols, Kirsch-Mitzenmacher
    # double hashing off ONE hash (col_r = (h1 + r*h2) mod w, h2 forced
    # odd) — r17: the hash is the xxhash64 fast lane; h1 = low 20 bits
    # (h % 2^20 on the unsigned pattern = Spark's bitwiseAND mask) and
    # h2 = bits 30.. (h // 2^30 = shiftrightunsigned) — all exact
    # integer arithmetic, so the sketch and the point estimates replay
    # the Spark side bit-for-bit. CMS counts OCCURRENCES, so the main
    # chain hashes every token (no distinct pre-pass possible).
    "ext_sketch_cms": rf"""
        WITH cms_tok AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM documents WHERE trim(text) <> ''
        ),
        {xxh64_cte('cms_tok', [], 'token', prefix='cms')},
        cell AS (
          SELECT rr.r AS r,
                 ((CAST(h % 1048576::UBIGINT AS BIGINT))
                  + rr.r * ((CAST(h // 1073741824::UBIGINT AS BIGINT)) | 1))
                 % 256 AS c
          FROM cms_h, (SELECT unnest(range(4)) AS r) rr
        ), sk AS (
          SELECT r, c, CAST(COUNT(*) AS BIGINT) AS n FROM cell GROUP BY r, c
        ), probe0 AS (
          SELECT DISTINCT token
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                         AS token
                FROM documents WHERE trim(text) <> '' AND doc_id < 5) u
        ),
        {xxh64_cte('probe0', ['token'], 'token', prefix='pr')},
        pc AS (
          SELECT token, rr.r AS r,
                 ((CAST(h % 1048576::UBIGINT AS BIGINT))
                  + rr.r * ((CAST(h // 1073741824::UBIGINT AS BIGINT)) | 1))
                 % 256 AS c
          FROM pr_h, (SELECT unnest(range(4)) AS r) rr
        )
        SELECT pc.token, CAST(MIN(sk.n) AS BIGINT) AS est_count
        FROM pc JOIN sk USING (r, c)
        GROUP BY pc.token ORDER BY pc.token
    """,
    # Outlier replay (r17): the cross-multiplied 3-sigma test in exact
    # HUGEINT (the Spark side uses DECIMAL(38,0) — both exact at the
    # clamp-bounded magnitudes); var=0 groups emit nothing by contract.
    "ext_events_outliers": r"""
        WITH obs AS (
          SELECT event_type,
                 CAST(least(greatest(floor(value + 0.5), -100000), 100000)
                      AS BIGINT) AS x
          FROM events WHERE value IS NOT NULL
        ), mom AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s,
                 CAST(SUM(x * x) AS BIGINT) AS q
          FROM obs GROUP BY event_type
        ), flagged AS (
          SELECT obs.event_type, mom.n,
                 CASE WHEN (mom.n::HUGEINT * obs.x - mom.s)
                           * (mom.n::HUGEINT * obs.x - mom.s)
                        > 9 * (mom.n::HUGEINT * mom.q
                               - mom.s::HUGEINT * mom.s)
                       AND (mom.n::HUGEINT * mom.q
                            - mom.s::HUGEINT * mom.s) > 0
                      THEN 1 ELSE 0 END AS o
          FROM obs JOIN mom
            ON obs.event_type IS NOT DISTINCT FROM mom.event_type
        )
        SELECT event_type, MAX(n) AS n,
               CAST(SUM(o) AS BIGINT) AS n_outliers
        FROM flagged GROUP BY event_type ORDER BY event_type
    """,
    # Motif replay (r17): per-user type string via ORDER BY string_agg
    # (the Spark side sorts (ts_ms, event_id, ch) structs — same total
    # order), non-overlapping regex counts via regexp_extract_all.
    "ext_events_motif": r"""
        WITH ev AS (
          SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                 CASE event_type WHEN 'view' THEN 'V'
                      WHEN 'click' THEN 'C' WHEN 'purchase' THEN 'P'
                      WHEN 'signup' THEN 'S' WHEN 'error' THEN 'E'
                      ELSE 'X' END AS ch
          FROM events WHERE ts IS NOT NULL
        ), seq AS (
          SELECT user_id,
                 string_agg(ch, '' ORDER BY ts_ms, event_id) AS s
          FROM ev GROUP BY user_id
        ), agg AS (
          SELECT
            CAST(SUM(CASE WHEN len(regexp_extract_all(s, 'VC')) > 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS u_vc,
            CAST(SUM(len(regexp_extract_all(s, 'VC'))) AS BIGINT) AS h_vc,
            CAST(SUM(CASE WHEN len(regexp_extract_all(s, 'VCP')) > 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS u_vcp,
            CAST(SUM(len(regexp_extract_all(s, 'VCP'))) AS BIGINT)
              AS h_vcp,
            CAST(SUM(CASE WHEN len(regexp_extract_all(s, 'EE')) > 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS u_ee,
            CAST(SUM(len(regexp_extract_all(s, 'EE'))) AS BIGINT) AS h_ee,
            CAST(SUM(CASE WHEN len(regexp_extract_all(s, 'SV')) > 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS u_sv,
            CAST(SUM(len(regexp_extract_all(s, 'SV'))) AS BIGINT) AS h_sv
          FROM seq
        )
        SELECT * FROM (
          SELECT 'VC' AS motif, u_vc AS n_users, h_vc AS n_hits FROM agg
          UNION ALL
          SELECT 'VCP', u_vcp, h_vcp FROM agg
          UNION ALL
          SELECT 'EE', u_ee, h_ee FROM agg
          UNION ALL
          SELECT 'SV', u_sv, h_sv FROM agg
        ) ORDER BY motif
    """,
    # Script-detection replay (r17): plain codepoint-range classes (Java
    # regex == RE2 on literal ranges), 'g' flag mandatory, the
    # fixed-priority CASE chain mirrored verbatim.
    "ext_text_scripts": r"""
        WITH s AS (
          SELECT lang,
                 CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS BIGINT) AS l,
                 CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g'))
                      AS BIGINT) AS c,
                 CAST(length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g'))
                      AS BIGINT) AS y,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                      AS BIGINT) AS d
          FROM documents WHERE trim(text) <> ''
        ), cls AS (
          SELECT lang,
                 CASE WHEN l >= c AND l >= y AND l >= d AND l > 0
                        THEN 'latin'
                      WHEN c >= y AND c >= d AND c > 0 THEN 'cjk'
                      WHEN y >= d AND y > 0 THEN 'cyrillic'
                      WHEN d > 0 THEN 'digit'
                      ELSE 'other' END AS script,
                 CASE WHEN CAST(l > 0 AS INT) + CAST(c > 0 AS INT)
                           + CAST(y > 0 AS INT) >= 2
                      THEN 1 ELSE 0 END AS mixed
          FROM s
        )
        SELECT lang, script, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(mixed) AS BIGINT) AS n_mixed
        FROM cls GROUP BY lang, script ORDER BY lang, script
    """,
    # Expectation-suite replay (r17): one conditional-sum pass per table
    # (CASE WHEN NOT pred — NULL-neutral on both engines), NOT EXISTS
    # for the RI orphans (equality never matches NULL — the anti-join
    # convention), \z never $ in the format regex.
    "ext_quality_expectations": r"""
        WITH li AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 45)
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
                 CAST(SUM(CASE WHEN l_discount > 0.05
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
                 CAST(SUM(CASE WHEN NOT (l_returnflag IN ('A', 'R'))
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_flag
          FROM lineitem
        ), o AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN o_totalprice < 1000
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
                 CAST(SUM(CASE WHEN o_orderdate IS NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_null
          FROM orders
        ), c AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN c_acctbal < 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_bal,
                 CAST(SUM(CASE WHEN NOT regexp_matches(
                                    c_name, '^Customer#[0-9]+\z')
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_name
          FROM customer
        )
        SELECT * FROM (
          SELECT 'range: lineitem.l_quantity in [1,45]' AS rule,
                 n AS n_checked, v_qty AS n_violations FROM li
          UNION ALL
          SELECT 'range: lineitem.l_discount <= 0.05', n, v_disc FROM li
          UNION ALL
          SELECT 'domain: lineitem.l_returnflag in (A,R)', n, v_flag
          FROM li
          UNION ALL
          SELECT 'range: orders.o_totalprice >= 1000', n, v_price FROM o
          UNION ALL
          SELECT 'not_null: orders.o_orderdate', n, v_null FROM o
          UNION ALL
          SELECT 'range: customer.c_acctbal >= 0', n, v_bal FROM c
          UNION ALL
          SELECT 'format: customer.c_name', n, v_name FROM c
          UNION ALL
          SELECT 'ri: orders.o_custkey -> customer.c_custkey',
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o2
                  WHERE NOT EXISTS (SELECT 1 FROM customer c2
                                    WHERE c2.c_custkey = o2.o_custkey))
          UNION ALL
          SELECT 'ri: lineitem.l_orderkey -> orders.o_orderkey',
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l2
                  WHERE NOT EXISTS (SELECT 1 FROM orders o3
                                    WHERE o3.o_orderkey = l2.l_orderkey))
        ) ORDER BY rule
    """,
    # Bloom membership replay (r17): M=2^18 bits as 32-bit words in
    # BIGINT (positive masks — no sign traps; DuckDB errors on 1<<63),
    # K=4 Kirsch–Mitzenmacher probes off the xxhash64 chain; membership
    # = 4 joined bit-hit rows (self-colliding probe positions produce 4
    # rows regardless). NULL langs ride IS NOT DISTINCT FROM.
    "ext_sketch_bloom": rf"""
        WITH bl_tok AS (
          -- global distinct before the chain: bit OR absorbs duplicates
          -- (the hll oracle rule), the chain prices per distinct pair
          SELECT DISTINCT lang, token
          FROM (SELECT lang,
                       unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                FROM documents WHERE trim(text) <> '') u
        ),
        {xxh64_cte('bl_tok', ['lang'], 'token', prefix='bl')},
        bh AS (
          SELECT lang, CAST(h % 262144::UBIGINT AS BIGINT) AS h1,
                 (CAST((h // 262144::UBIGINT) % 262144::UBIGINT AS BIGINT)
                  | 1) AS h2
          FROM bl_h
        ), bpos AS (
          SELECT lang, (h1 + rr.i * h2) % 262144 AS p
          FROM bh, (SELECT unnest(range(4)) AS i) rr
        ), sk AS (
          SELECT lang, p // 32 AS word,
                 bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
          FROM bpos GROUP BY lang, word
        ), nb AS (
          SELECT lang, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_bits_set
          FROM sk GROUP BY lang
        ), pr0 AS (
          SELECT DISTINCT token
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                         AS token
                FROM documents WHERE trim(text) <> '' AND doc_id < 5) u
        ),
        {xxh64_cte('pr0', ['token'], 'token', prefix='bp')},
        ph AS (
          SELECT token, CAST(h % 262144::UBIGINT AS BIGINT) AS h1,
                 (CAST((h // 262144::UBIGINT) % 262144::UBIGINT AS BIGINT)
                  | 1) AS h2
          FROM bp_h
        ), ppos AS (
          SELECT token, (h1 + rr.i * h2) % 262144 AS p
          FROM ph, (SELECT unnest(range(4)) AS i) rr
        ), hits AS (
          SELECT sk.lang, ppos.token, COUNT(*) AS nhit
          FROM ppos JOIN sk
            ON sk.word = ppos.p // 32
           AND (sk.bits & (1::BIGINT << CAST(ppos.p % 32 AS INT))) =
               (1::BIGINT << CAST(ppos.p % 32 AS INT))
          GROUP BY sk.lang, ppos.token
        ), hc AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_probe_hits
          FROM hits WHERE nhit = 4 GROUP BY lang
        ), np AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM pr0
        )
        SELECT nb.lang, nb.n_bits_set,
               CAST(COALESCE(hc.n_probe_hits, 0) AS BIGINT) AS n_probe_hits,
               np.n_probes
        FROM nb
        LEFT JOIN hc ON nb.lang IS NOT DISTINCT FROM hc.lang
        CROSS JOIN np
        ORDER BY nb.lang
    """,
    # Misra–Gries bounded top-k replay (r17): shard-wise exact counts →
    # compress to k=32 counters by the (k+1)-th-largest decrement (ties
    # value ASC) → counter-sum merge → compress again. Pure integer
    # arithmetic + deterministic ranking, so the lower-bound counters
    # replay bit-for-bit. NULL source shards drop at the USING join on
    # both engines (the adversarial NULL-key convention).
    "ext_topk_freq": rf"""
        WITH tok AS (
          SELECT source,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM documents WHERE trim(text) <> ''
        ), cnt AS (
          SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY source, token
        ), rk AS (
          SELECT source, token, c,
                 ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY c DESC, token ASC
                 ) AS rn
          FROM cnt
        ), thr AS (
          SELECT source,
                 COALESCE(MAX(CASE WHEN rn = {_MG_K + 1} THEN c END),
                          0) AS t
          FROM rk WHERE rn <= {_MG_K + 1} GROUP BY source
        ), surv AS (
          SELECT rk.token, rk.c - thr.t AS cc
          FROM rk JOIN thr USING (source)
          WHERE rk.rn <= {_MG_K} AND rk.c > thr.t
        ), merged AS (
          SELECT token, CAST(SUM(cc) AS BIGINT) AS cnt
          FROM surv GROUP BY token
        ), rk2 AS (
          SELECT token, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rn
          FROM merged
        ), thr2 AS (
          SELECT COALESCE(MAX(CASE WHEN rn = {_MG_K + 1} THEN cnt END),
                          0) AS t2
          FROM rk2
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt - t2 DESC, token ASC)
                    AS BIGINT) AS rnk,
               token, CAST(cnt - t2 AS BIGINT) AS est_lb
        FROM rk2, thr2 WHERE rk2.rn <= {_MG_K} AND cnt > t2
        ORDER BY rnk
    """,
    "ext_split_by_content": r"""
        -- split bucket keyed on the md5 of the TEXT (NULL -> '', the
        -- exact_dedup identity): every byte-identical copy lands in one
        -- split by construction; 80/10/10 by 60-bit-hash residue
        WITH d AS (
          SELECT md5(COALESCE(text, '')) AS dg FROM documents
        ), b AS (
          SELECT dg,
                 CASE WHEN ('0x' || substr(dg, 1, 15))::BIGINT % 100 < 80
                        THEN 'train'
                      WHEN ('0x' || substr(dg, 1, 15))::BIGINT % 100 < 90
                        THEN 'val'
                      ELSE 'test' END AS split
          FROM d
        ), t AS (
          SELECT split, dg, COUNT(*) AS copies FROM b GROUP BY split, dg
        )
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_texts,
               CAST(SUM(copies) AS BIGINT) AS n_docs
        FROM t GROUP BY split ORDER BY split
    """,
    "ext_sketch_histogram": """
        WITH hist AS (
          SELECT lang, CAST(length(text) AS BIGINT) // 16 AS bucket,
                 COUNT(*) AS c
          FROM documents WHERE text IS NOT NULL
          GROUP BY lang, bucket
        ), cum AS (
          SELECT lang, bucket, c,
                 SUM(c) OVER (PARTITION BY lang ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
                 SUM(c) OVER (PARTITION BY lang) AS n
          FROM hist
        )
        SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket * 16 END)
                    AS BIGINT) AS p50_lb,
               CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket * 16 END)
                    AS BIGINT) AS p90_lb,
               CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN bucket * 16 END)
                    AS BIGINT) AS p99_lb
        FROM cum GROUP BY lang
    """,
    "ext_profile_orders": """
        SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
                         COUNT(DISTINCT o_custkey) FROM orders
        UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
                         COUNT(DISTINCT o_orderstatus) FROM orders
        UNION ALL SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
                         COUNT(DISTINCT o_totalprice) FROM orders
        UNION ALL SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
                         COUNT(DISTINCT o_orderdate) FROM orders
        UNION ALL SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
                         COUNT(DISTINCT o_orderpriority) FROM orders
    """,
    "ext_events_topk": """
        SELECT event_type, event_id, value, CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT event_type, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rk
          FROM events) t
        WHERE rk <= 3
    """,
    # floor(x*1e6 + 0.5): same IEEE sequence both engines (exact halves
    # DO occur for float components that are odd multiples of 2^-7, where
    # ROUND/bround would disagree — the ext_embed_quantize parity idiom)
    "ext_embed_centroid": """
        SELECT CAST(label AS BIGINT) AS label,
               CAST(i.i AS BIGINT) AS dim,
               CAST(SUM(CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1e6
                                   + 0.5)
                             AS BIGINT)) AS BIGINT) AS sum_q6,
               CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM embeddings,
             LATERAL (SELECT unnest(range(len(embedding))) AS i) i
        GROUP BY label, dim
    """,
    # closed-form recompute of the GIF/BMP pixel patterns the engine
    # encodes (real LZW / padded BGR rows) and decodes back
    "ext_multimodal_gifbmp": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 24) + 24) % 24 + 8 AS w,
                 ((doc_id % 16) + 16) % 16 + 8 AS h,
                 ((doc_id % 2) + 2) % 2 AS f
          FROM documents
        ), px AS (
          SELECT doc_id, w, h, f,
                 CASE WHEN f = 0
                      THEN 1000 * ((((doc_id * 5 + xx.x * 16 + yy.y * 3) % 256) + 256) % 256)
                      ELSE 299 * ((((doc_id + xx.x * 7) % 256) + 256) % 256)
                         + 587 * ((((doc_id * 3 + yy.y * 11) % 256) + 256) % 256)
                         + 114 * ((((xx.x + yy.y + doc_id) % 256) + 256) % 256)
                 END AS l
          FROM d,
               LATERAL (SELECT unnest(range(d.w)) AS x) xx,
               LATERAL (SELECT unnest(range(d.h)) AS y) yy
        )
        SELECT doc_id,
               CASE WHEN f = 0 THEN 'gif' ELSE 'bmp' END AS format,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(SUM(l) AS BIGINT) AS luma_sum,
               CAST(w * h AS BIGINT) AS n_px
        FROM px GROUP BY doc_id, f, w, h
    """,
    # closed-form recompute of the DC-only JPEG pixel pattern the engine
    # encodes AND decodes through real baseline-JPEG entropy bytes
    # closed-form twin of BOTH decode profiles: flat blocks are exactly
    # dc+128; AC blocks replay the pinned fixed-point integer IDCT
    # (multimodal._idct_basis: B0 = 2896 everywhere, B1 inlined below;
    # pixel = clamp(floor((Σ Fq·B·B + 2^25)/2^26) + 128)). The double
    # division is by a power of two on |acc| < 2^53 — exact, so floor()
    # matches the decoder's arithmetic shift bit for bit (DuckDB's //
    # truncates toward zero on negatives, hence floor()).
    "ext_multimodal_jpeg": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 3) + 3) % 3 + 1 AS bw,
                 ((doc_id % 2) + 2) % 2 + 1 AS bh
          FROM documents
        ), blk AS (
          SELECT doc_id,
                 CAST(bw * 8 AS BIGINT) AS width,
                 CAST(bh * 8 AS BIGINT) AS height,
                 (((doc_id * 7 + bb.b * 13) % 201) + 201) % 201 - 100 AS dc,
                 CASE WHEN ((doc_id % 2) + 2) % 2 = 1
                      THEN (((doc_id * 11 + bb.b * 17) % 81) + 81) % 81 - 40
                      ELSE 0 END AS a01,
                 CASE WHEN ((doc_id % 2) + 2) % 2 = 1
                      THEN (((doc_id * 5 + bb.b * 23) % 61) + 61) % 61 - 30
                      ELSE 0 END AS a10
          FROM d, LATERAL (SELECT unnest(range(d.bw * d.bh)) AS b) bb
        ), flat AS (
          SELECT doc_id, width, height, CAST(64 * (dc + 128) AS BIGINT) AS s
          FROM blk WHERE a01 = 0 AND a10 = 0
        ), acpx AS (
          SELECT doc_id, width, height,
                 LEAST(255, GREATEST(0,
                   CAST(floor((
                     8 * dc * 2896 * 2896
                     + 8 * a01 * 2896 * list_value(4017,3406,2276,799,
                                                   -799,-2276,-3406,-4017)[i.i % 8 + 1]
                     + 8 * a10 * 2896 * list_value(4017,3406,2276,799,
                                                   -799,-2276,-3406,-4017)[i.i // 8 + 1]
                     + 33554432) / 67108864.0) AS BIGINT) + 128)) AS s
          FROM blk, LATERAL (SELECT unnest(range(64)) AS i) i
          WHERE a01 != 0 OR a10 != 0
        ), per AS (
          SELECT doc_id, width, height, SUM(s) AS s FROM flat GROUP BY 1, 2, 3
          UNION ALL
          SELECT doc_id, width, height, SUM(s) FROM acpx GROUP BY 1, 2, 3
        )
        SELECT doc_id, width, height,
               CAST(SUM(s) AS BIGINT) AS luma_sum,
               CAST(width * height AS BIGINT) AS n_px
        FROM per GROUP BY doc_id, width, height
    """,
    # closed-form recompute of the waveform the engine encodes AND
    # decodes through real RIFF/PCM bytes
    "ext_multimodal_audiohash": """
        -- audio fingerprint replay (r13): closed-form PCM samples, the
        -- exact (j*57)//n window partition, int64 energy sums,
        -- delta-sign bits packed little-endian (the dhash convention)
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 120) + 120) % 120 + 171 AS n,
                 ((doc_id % 256) + 256) % 256 AS s
          FROM documents
        ), x AS (
          SELECT doc_id, n, CAST(j.j AS BIGINT) AS j,
                 ((s * 7 + 13 * CAST(j.j AS BIGINT)) % 4001) - 2000 AS v
          FROM d, range(300) j(j) WHERE j.j < n
        ), e AS (
          SELECT doc_id, (j * 57) // n AS k, SUM(v * v) AS en
          FROM x GROUP BY doc_id, (j * 57) // n
        ), bits AS (
          SELECT a.doc_id,
                 CASE WHEN b.en > a.en
                      THEN 1::BIGINT << CAST(a.k AS INTEGER) ELSE 0 END AS bv
          FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        )
        SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS ahash
        FROM bits GROUP BY doc_id
    """,
    "ext_multimodal_audio": """
        WITH d AS (
          SELECT doc_id,
                 ((doc_id % 97) + 97) % 97 AS seed,
                 ((doc_id % 50) + 50) % 50 + 20 AS n,
                 8000 + (((doc_id % 4) + 4) % 4) * 4000 AS sample_rate
          FROM documents
        ), s AS (
          SELECT doc_id, sample_rate, n,
                 ABS((((seed * 31 + i.i * 37) % 4001) + 4001) % 4001 - 2000) AS a
          FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i
        )
        SELECT doc_id,
               CAST(sample_rate AS BIGINT) AS sample_rate,
               CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(a) AS BIGINT) AS sum_abs,
               CAST(MAX(a) AS BIGINT) AS peak
        FROM s GROUP BY doc_id, sample_rate, n
    """,
    # independent formulation: one-shot latest-image recompute vs the
    # engine's three-batch retract-and-add delta maintenance — a hash
    # match proves delta ≡ recompute cross-engine
    "ext_cdc_ivm": """
        WITH log AS (
          SELECT event_id % 500 AS pk,
                 user_id % 10 AS g,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
                 CASE WHEN event_type = 'error' THEN 'DELETE'
                      ELSE 'UPDATE' END AS op,
                 event_id AS pos
          FROM events
        ), latest AS (
          SELECT pk, max_by(g, pos) AS g, max_by(v, pos) AS v,
                 max_by(op, pos) AS op
          FROM log GROUP BY pk
        )
        -- COALESCE mirrors maintain_group_agg's NULL-value contract
        -- (NULL contributes 0 to total, 1 to cnt)
        SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS total
        FROM latest WHERE op <> 'DELETE'
        GROUP BY g
    """,
    # sequential scrub mirrored stage by stage; counts taken BEFORE each
    # replacement, same as operators.text.redact
    "ext_text_redact": r"""
        WITH r0 AS (
          SELECT event_id, props AS s FROM events WHERE event_id < 4000
        ), r1 AS (
          SELECT event_id,
                 len(regexp_extract_all(s,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+')) AS c1,
                 regexp_replace(s,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+',
                     '<EMAIL>', 'g') AS s
          FROM r0
        ), r2 AS (
          SELECT event_id, c1,
                 len(regexp_extract_all(s,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS c2,
                 regexp_replace(s,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS s
          FROM r1
        ), r3 AS (
          SELECT event_id, c1, c2,
                 len(regexp_extract_all(s, '\d+')) AS c3,
                 regexp_replace(s, '\d+', '<NUM>', 'g') AS s
          FROM r2
        )
        SELECT event_id, s AS redacted,
               CAST(c1 + c2 + c3 AS BIGINT) AS n_redactions
        FROM r3
    """,
}

# The indexed IVF-PQ serves the SAME models through a persisted codes
# parquet — bit-identical integer arithmetic, so the oracle replay is the
# inline query's verbatim (what differs is the Spark plan, pinned in
# tests/test_extensions.py: zero corpus scans at query time).
EXT_ORACLE_SQL["ext_ann_ivfpq_indexed"] = EXT_ORACLE_SQL["ext_ann_ivfpq"]


def _trained_ann_oracle_sql() -> str:
    """Replay of ext_ann_ivfpq_trained's distributed half from the
    PERSISTED artifact: the trained models are int64-grid parquet
    (centroids_q / codebook_q, written verbatim — no float round trip),
    so DuckDB loads them with read_parquet and re-derives residual
    encode + probes + residual ADC + top-k exactly like the
    ext_ann_ivfpq_res oracle does for fixed models. kmeans itself stays
    engine-local (it CAN'T be SQL) — this gate pins everything the
    cluster executes. The artifact path is this process's (the gate runs
    query-then-oracle in one process; tools/check_oracle.py is the
    replica of record)."""
    path = _trained_index_path()
    return f"""
        WITH comp AS (
          SELECT vec_id, t.i,
                 CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q,
                 t.i // 8 AS j, t.i % 8 AS w
          FROM embeddings, range(64) t(i)
          WHERE embedding IS NOT NULL AND len(embedding) = 64
        ), cent AS (
          SELECT id AS cid, t.i, vq[t.i+1] AS q
          FROM read_parquet('{path}/centroids_q/*.parquet'), range(64) t(i)
        ), cb AS (
          SELECT id AS bid, t.i // 8 AS j, t.i % 8 AS w, vq[t.i+1] AS q
          FROM read_parquet('{path}/codebook_q/*.parquet'), range(64) t(i)
        ), d2cell AS (
          SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
          FROM comp c JOIN cent ct USING (i)
          WHERE c.vec_id >= 20 GROUP BY c.vec_id, ct.cid
        ), cells AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d2cell) WHERE rn = 1
        ), rescomp AS (
          SELECT c.vec_id, c.j, c.w, c.q - ct.q AS q
          FROM comp c JOIN cells ce ON ce.vec_id = c.vec_id
               JOIN cent ct ON ct.cid = ce.cid AND ct.i = c.i
          WHERE c.vec_id >= 20
        ), enc_d AS (
          SELECT r.vec_id, cb.j, cb.bid, SUM((r.q - cb.q) * (r.q - cb.q)) AS d2
          FROM rescomp r JOIN cb ON cb.j = r.j AND cb.w = r.w
          GROUP BY r.vec_id, cb.j, cb.bid
        ), codes AS (
          SELECT vec_id, j, bid FROM (
            SELECT vec_id, j, bid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, bid) AS rn
            FROM enc_d) WHERE rn = 1
        ), qcell AS (
          SELECT c.vec_id AS qid, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
          FROM comp c JOIN cent ct USING (i)
          WHERE c.vec_id < 20 GROUP BY c.vec_id, ct.cid
        ), probes AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
            FROM qcell) WHERE rn <= 4
        ), qres AS (
          SELECT c.vec_id AS qid, p.cid, c.j, c.w, c.q - ct.q AS q
          FROM comp c JOIN probes p ON p.qid = c.vec_id
               JOIN cent ct ON ct.cid = p.cid AND ct.i = c.i
          WHERE c.vec_id < 20
        ), qlut AS (
          SELECT qr.qid, qr.cid, cb.j, cb.bid,
                 SUM((qr.q - cb.q) * (qr.q - cb.q)) AS d2
          FROM qres qr JOIN cb ON cb.j = qr.j AND cb.w = qr.w
          GROUP BY qr.qid, qr.cid, cb.j, cb.bid
        ), cand AS (
          SELECT p.qid, p.cid, ce.vec_id AS nid
          FROM probes p JOIN cells ce USING (cid)
        ), adc AS (
          SELECT cand.qid, cand.nid, CAST(SUM(qlut.d2) AS BIGINT) AS dist
          FROM cand
          JOIN codes ON codes.vec_id = cand.nid
          JOIN qlut ON qlut.qid = cand.qid AND qlut.cid = cand.cid
                   AND qlut.j = codes.j AND qlut.bid = codes.bid
          GROUP BY cand.qid, cand.nid
        ), ranked AS (
          SELECT qid, nid, dist,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
          FROM adc
        )
        SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist
        FROM ranked WHERE rank <= 3 ORDER BY qid, rank
    """


EXT_ORACLE_SQL["ext_ann_ivfpq_trained"] = _trained_ann_oracle_sql()

def _semantic_trained_oracle_sql() -> str:
    """ext_dedup_semantic's oracle with the cent CTE swapped to the
    persisted trained grid (read_parquet of centroids_q) — everything
    downstream (argmin (d2, cid) cells, in-cell keep-one) is replayed
    identically, so the hash pins the whole distributed half against the
    kmeans artifact."""
    path = _semantic_trained_path()
    return f"""
    WITH comp AS (
      SELECT vec_id, t.i,
             CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q
      FROM embeddings, range(64) t(i)
      WHERE embedding IS NOT NULL AND len(embedding) = 64 AND vec_id < 5000
    ), cent AS (
      SELECT id AS cid, t.i, vq[t.i+1] AS q
      FROM read_parquet('{path}/centroids_q/*.parquet'), range(64) t(i)
    ), d2c AS (
      SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
      FROM comp c JOIN cent ct USING (i)
      GROUP BY c.vec_id, ct.cid
    ), cells AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2c) WHERE rn = 1
    ), vc AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cid
      FROM embeddings e JOIN cells c USING (vec_id)
      WHERE e.vec_id < 5000 AND e.embedding IS NOT NULL
        AND len(e.embedding) = 64
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM vc a JOIN vc b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
    )
    SELECT v.vec_id, v.cid AS cell,
           (d.vec_id IS NULL) AS kept
    FROM vc v LEFT JOIN dropped d ON d.vec_id = v.vec_id
"""


EXT_ORACLE_SQL["ext_dedup_semantic_trained"] = _semantic_trained_oracle_sql()

# Lazily re-rendered oracle entries (ADVICE r14): the trained artifact path
# is pid-scoped, so a harness that imports plans in a parent and evaluates
# the SQL in a forked worker would read a nonexistent artifact with the
# import-time string. __spark_entry__.oracle_sql() overlays these at CALL
# time so the pid is captured in the evaluating process; the import-time
# value above stays for direct EXT_ORACLE_SQL consumers in-process.
LAZY_ORACLE_SQL: dict = {
    "ext_ann_ivfpq_trained": _trained_ann_oracle_sql,
    "ext_dedup_semantic_trained": _semantic_trained_oracle_sql,
}


def _bpe_chain_sql(col: str = "n") -> str:
    """The DuckDB twin of bpe_encode's replace chain, generated from the
    same BPE_MERGES table so the two sides can never drift."""
    expr = rf"regexp_replace({col}, '(.)', ' \1 ', 'g')"
    for a, b in X.BPE_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return expr


def _bpe_oracle_sql() -> str:
    """DuckDB replay of bpe_encode: the IDENTICAL replace chain, built
    from the same BPE_MERGES table so the two sides can never drift
    (change the merges → both engines move together)."""
    expr = _bpe_chain_sql("n")
    return f"""
        WITH norm AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS n
          FROM documents WHERE text IS NOT NULL
        ), enc AS (
          SELECT doc_id, n,
                 CASE WHEN n = '' THEN ''
                      ELSE regexp_replace(trim({expr}), ' +', ' ', 'g')
                 END AS bpe
          FROM norm
        )
        SELECT doc_id,
               CAST(CASE WHEN bpe = '' THEN 0
                         ELSE len(string_split(bpe, ' ')) END AS BIGINT) AS n_bpe,
               bpe
        FROM enc
    """


EXT_ORACLE_SQL["ext_text_bpe"] = _bpe_oracle_sql()


def _kcenter_oracle_sql(k: int = 8, scope: str = "vec_id < 400") -> str:
    """DuckDB replay of ext_sample_kcenter: the k greedy rounds UNROLLED
    into a CTE chain generated from the same k, scope, grid scale, and
    tie-break as the Spark side (the BPE generated-oracle pattern —
    change a knob and both engines move together). Each round computes
    every unpicked vector's exact int64 grid distance to the selected
    set (MIN over a cross join with sel{r-1}), takes the argmax with the
    smaller-id tie-break, and appends it to the selection. ``scope``:
    the gate uses vec_id < 400; the sf10 perf harness passes TRUE to
    replay the greedy over the whole corpus.

    Every CTE is MATERIALIZED: each stage references its predecessors
    more than once (the cross join AND the NOT-IN), so DuckDB's default
    inlining re-evaluates the chain EXPONENTIALLY in k — measured 360 s
    at sf0.1 vs 0.13 s materialized (r16 bench finding)."""
    dist = (
        "CAST(list_sum(list_transform(range(64), i -> "
        "(g.gv[i+1]-s.gv[i+1])*(g.gv[i+1]-s.gv[i+1]))) AS BIGINT)"
    )
    ctes = [
        """g AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
                   AS gv
          FROM embeddings
          WHERE {scope} AND embedding IS NOT NULL
            AND len(embedding) = 64
        )""".replace("{scope}", scope),
        "p1 AS MATERIALIZED (SELECT vec_id, gv FROM g ORDER BY vec_id LIMIT 1)",
        "sel1 AS MATERIALIZED (SELECT vec_id, gv FROM p1)",
    ]
    finals = [
        "SELECT CAST(1 AS BIGINT) AS pick_no, vec_id, "
        "CAST(0 AS BIGINT) AS min_dist_sq FROM p1"
    ]
    for r in range(2, k + 1):
        ctes.append(f"""d{r} AS MATERIALIZED (
          SELECT g.vec_id, MIN({dist}) AS md
          FROM g, sel{r - 1} s
          WHERE g.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
          GROUP BY g.vec_id
        )""")
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT vec_id, md FROM d{r} "
            f"ORDER BY md DESC, vec_id LIMIT 1)"
        )
        ctes.append(f"""sel{r} AS MATERIALIZED (
          SELECT vec_id, gv FROM sel{r - 1}
          UNION ALL
          SELECT g.vec_id, g.gv FROM g JOIN p{r} USING (vec_id)
        )""")
        finals.append(f"SELECT CAST({r} AS BIGINT), vec_id, md FROM p{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(finals)


EXT_ORACLE_SQL["ext_sample_kcenter"] = _kcenter_oracle_sql()


def _zorder_oracle_sql() -> str:
    """DuckDB replay of ext_layout_zorder, GENERATED from the same mask /
    shift / bit-width constants as the Spark kernel (operators/layout.py
    MORTON_MASKS — the shared-constant oracle pattern: edit the masks and
    both engines move together). Each spread step is its own CTE column
    stage so the expression tree stays linear, never the 2^steps textual
    blowup of inlining."""
    from flink_cdc_multi_spark.operators.layout import (
        _MORTON_SHIFTS,
        MORTON_INPUT_MASK,
        MORTON_MASKS,
    )

    m = MORTON_INPUT_MASK + 1
    k = _ZORDER_SCRAMBLE
    ctes = [
        f"""base AS (
          SELECT (((((user_id % {m}) + {m}) % {m}) * {k}) % {m})
                   & {MORTON_INPUT_MASK} AS a0,
                 (((((event_id % {m}) + {m}) % {m}) * {k}) % {m})
                   & {MORTON_INPUT_MASK} AS b0
          FROM events
        )"""
    ]
    prev = "base"
    for i, (s, mask) in enumerate(zip(_MORTON_SHIFTS, MORTON_MASKS), 1):
        pa, pb = f"a{i - 1}", f"b{i - 1}"
        ctes.append(
            f"""s{i} AS (
          SELECT a0, b0,
                 (({pa} | ({pa} << {s})) & {mask}) AS a{i},
                 (({pb} | ({pb} << {s})) & {mask}) AS b{i}
          FROM {prev}
        )"""
        )
        prev = f"s{i}"
    n = len(MORTON_MASKS)
    return f"""
        WITH {", ".join(ctes)}, z AS (
          SELECT a0 AS a, b0 AS b, (a{n} | (b{n} << 1)) AS zkey FROM {prev}
        )
        SELECT (zkey >> 34) AS zprefix,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(a) AS BIGINT) AS min_a,
               CAST(MAX(a) AS BIGINT) AS max_a,
               CAST(MIN(b) AS BIGINT) AS min_b,
               CAST(MAX(b) AS BIGINT) AS max_b,
               CAST(SUM(zkey) AS BIGINT) AS sum_z
        FROM z GROUP BY zprefix ORDER BY zprefix
    """


EXT_ORACLE_SQL["ext_layout_zorder"] = _zorder_oracle_sql()


def _quality_score_oracle_sql() -> str:
    """Replay of quality_score: the weight VALUES list is generated from
    the same QUALITY_WEIGHTS table, so the two sides can never drift.
    Bucket = unsigned xxhash64 % 64 (r17 fast lane — replays Spark's
    ``xxhash64 & 63`` low-bits extraction; was md5-hash60 % 64); the
    XXH64 chain prices per DISTINCT token, occurrences re-attach by
    string."""
    values = ", ".join(f"({b}, {w})" for b, w in enumerate(X.QUALITY_WEIGHTS))
    return f"""
        WITH w(b, wt) AS (VALUES {values}),
        tok AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ), dtok AS (
          SELECT DISTINCT token FROM tok
        ),
        {xxh64_cte('dtok', ['token'], 'token', prefix='qs')},
        qmap AS (
          SELECT token, CAST(h % {X.QUALITY_BUCKETS} AS BIGINT) AS b
          FROM qs_h
        ), h AS (
          SELECT tok.doc_id, qmap.b FROM tok JOIN qmap USING (token)
        )
        SELECT doc_id, CAST(SUM(w.wt) AS BIGINT) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM h JOIN w USING (b) GROUP BY doc_id
    """


EXT_ORACLE_SQL["ext_text_quality_score"] = _quality_score_oracle_sql()


def _cluster_best_oracle_sql() -> str:
    """Replay of ext_dedup_cluster_best: the ext_dedup_clusters recursive
    reachability closure composed with the QUALITY_WEIGHTS-generated
    scorer (both sides move together with the weight table; the bucket
    rule is the r17 xxhash64 fast lane, unsigned h % 64 per DISTINCT
    token — the same chain _quality_score_oracle_sql replays); selection
    is the (score desc NULLS-as-sentinel, doc_id asc) rank-1 — the twin
    of Spark's max_by(struct(coalesce(score, -2^62), -doc_id))."""
    values = ", ".join(f"({b}, {w})" for b, w in enumerate(X.QUALITY_WEIGHTS))
    sentinel = -(2 ** 62)
    return rf"""
        WITH RECURSIVE {_NEARDUP_CLOSURE_CTES}, clusters AS (
          SELECT id AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY id
        ), w2(b, wt) AS (VALUES {values}),
        tok AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM t WHERE text IS NOT NULL AND trim(text) <> ''
        ), cbtok AS (
          SELECT DISTINCT token FROM tok
        ),
        {xxh64_cte('cbtok', ['token'], 'token', prefix='cb')},
        cbmap AS (
          SELECT token, CAST(h % {X.QUALITY_BUCKETS} AS BIGINT) AS b
          FROM cb_h
        ), h AS (
          SELECT tok.doc_id, cbmap.b FROM tok JOIN cbmap USING (token)
        ), sc AS (
          SELECT doc_id, CAST(SUM(w2.wt) AS BIGINT) AS score
          FROM h JOIN w2 USING (b) GROUP BY doc_id
        ), ranked AS (
          SELECT c.cluster_id, c.doc_id, sc.score,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY COALESCE(sc.score, {sentinel}) DESC, c.doc_id
                 ) AS rn,
                 COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
          FROM clusters c LEFT JOIN sc USING (doc_id)
        )
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(doc_id AS BIGINT) AS best_doc_id,
               CAST(score AS BIGINT) AS best_score,
               CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1
    """


EXT_ORACLE_SQL["ext_dedup_cluster_best"] = _cluster_best_oracle_sql()

# BPE-exact packing replay: the ext_pack_sequences running sum with
# n_tokens = the generated BPE chain's symbol count.
EXT_ORACLE_SQL["ext_pack_bpe"] = f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS n
      FROM documents WHERE text IS NOT NULL
    ), t AS (
      SELECT doc_id,
             CAST(CASE WHEN n = '' THEN 0
                  ELSE len(string_split(
                    regexp_replace(trim({_bpe_chain_sql("n")}), ' +', ' ', 'g'),
                    ' ')) END AS BIGINT) AS n_tokens
      FROM norm
    ), t2 AS (
      SELECT doc_id, n_tokens FROM t WHERE n_tokens > 0
    ), s AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM t2
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS start_seq,
           CAST(FLOOR((start_offset + n_tokens - 1) / 256.0) AS BIGINT)
             AS end_seq
    FROM s ORDER BY doc_id
"""

# Residual IVF-PQ replay (r12): the ext_ann_ivfpq CTE chain with the PQ
# side moved to residual space — rescomp/qres subtract the assigned/probed
# cell's centroid component before the codebook distances, the CODEBOOK
# itself is the codeword vectors' own residuals (raw-scale codewords
# would mis-quantize near-zero residuals — PERF.md r12), and the ADC
# join additionally keys the LUT on the candidate's cell.
EXT_ORACLE_SQL["ext_ann_ivfpq_res"] = """
    WITH comp AS (
      SELECT vec_id, t.i,
             CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q,
             t.i // 8 AS j, t.i % 8 AS w
      FROM embeddings, range(64) t(i)
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ), cent AS (
      SELECT vec_id AS cid, i, q FROM comp WHERE vec_id BETWEEN 20 AND 35
    ), d2cell AS (
      SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
      FROM comp c JOIN cent ct USING (i)
      WHERE c.vec_id >= 20 GROUP BY c.vec_id, ct.cid
    ), cells AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2cell) WHERE rn = 1
    ), rescomp AS (
      SELECT c.vec_id, c.j, c.w, c.q - ct.q AS q
      FROM comp c JOIN cells ce ON ce.vec_id = c.vec_id
           JOIN cent ct ON ct.cid = ce.cid AND ct.i = c.i
      WHERE c.vec_id >= 20
    ), cb AS (
      SELECT vec_id AS bid, j, w, q FROM rescomp
      WHERE vec_id BETWEEN 36 AND 51
    ), enc_d AS (
      SELECT r.vec_id, cb.j, cb.bid, SUM((r.q - cb.q) * (r.q - cb.q)) AS d2
      FROM rescomp r JOIN cb ON cb.j = r.j AND cb.w = r.w
      GROUP BY r.vec_id, cb.j, cb.bid
    ), codes AS (
      SELECT vec_id, j, bid FROM (
        SELECT vec_id, j, bid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, bid) AS rn
        FROM enc_d) WHERE rn = 1
    ), qcell AS (
      SELECT c.vec_id AS qid, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
      FROM comp c JOIN cent ct USING (i)
      WHERE c.vec_id < 20 GROUP BY c.vec_id, ct.cid
    ), probes AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
        FROM qcell) WHERE rn <= 4
    ), qres AS (
      SELECT c.vec_id AS qid, p.cid, c.j, c.w, c.q - ct.q AS q
      FROM comp c JOIN probes p ON p.qid = c.vec_id
           JOIN cent ct ON ct.cid = p.cid AND ct.i = c.i
      WHERE c.vec_id < 20
    ), qlut AS (
      SELECT qr.qid, qr.cid, cb.j, cb.bid,
             SUM((qr.q - cb.q) * (qr.q - cb.q)) AS d2
      FROM qres qr JOIN cb ON cb.j = qr.j AND cb.w = qr.w
      GROUP BY qr.qid, qr.cid, cb.j, cb.bid
    ), cand AS (
      SELECT p.qid, p.cid, ce.vec_id AS nid
      FROM probes p JOIN cells ce USING (cid)
    ), adc AS (
      SELECT cand.qid, cand.nid, CAST(SUM(qlut.d2) AS BIGINT) AS dist
      FROM cand
      JOIN codes ON codes.vec_id = cand.nid
      JOIN qlut ON qlut.qid = cand.qid AND qlut.cid = cand.cid
               AND qlut.j = codes.j AND qlut.bid = codes.bid
      GROUP BY cand.qid, cand.nid
    ), ranked AS (
      SELECT qid, nid, dist,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
      FROM adc
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist
    FROM ranked WHERE rank <= 3 ORDER BY qid, rank
"""

# dHash replay (r13 mixed-format): each container's fixture pixels are
# closed-form in (doc_id, x, y), so the whole perceptual hash — format
# dispatch, NN grid sample, integer gray, gradient-sign bits,
# little-endian 56-bit pack — is pure SQL arithmetic. The gray CASE
# mirrors _dhash_fixture_blob exactly: PNG RGB pattern, JPEG DC-only
# pixel (s + 17·block) % 231 + 13 (gray ×1000), GIF gray palette
# (×1000), BMP RGB pattern. Positive-mod wrappers keep negative doc_ids
# on Python's floored-mod semantics.
EXT_ORACLE_SQL["ext_multimodal_dhash"] = """
    WITH d AS (
      SELECT doc_id,
             ((doc_id % 6) + 6) % 6 AS f,
             ((doc_id % 24) + 24) % 24 + 4 AS gw,
             ((doc_id % 16) + 16) % 16 + 4 AS gh,
             (((doc_id % 3) + 3) % 3 + 1) * 8 AS jw,
             (((doc_id % 2) + 2) % 2 + 1) * 8 AS jh,
             (((doc_id % 2) + 2) % 2 + 1) * 16 AS jw5,
             ((doc_id % 256) + 256) % 256 AS s
      FROM documents
    ), dim AS (
      SELECT doc_id, f, s,
             CASE WHEN f IN (1, 4) THEN jw
                  WHEN f = 5 THEN jw5 ELSE gw END AS w,
             CASE WHEN f IN (1, 4) THEN jh
                  WHEN f = 5 THEN 16 ELSE gh END AS h
      FROM d
    ), grid AS (
      SELECT dim.doc_id, dim.f, dim.s, dim.w, dim.h,
             CAST(ty.y AS BIGINT) AS ty, CAST(tx.x AS BIGINT) AS tx,
             (CAST(tx.x AS BIGINT) * dim.w) // 9 AS px,
             (CAST(ty.y AS BIGINT) * dim.h) // 7 AS py
      FROM dim, range(7) ty(y), range(9) tx(x)
    ), jc AS (
      -- color-JPEG (f=4/5) per-sample plane values: DC-only flat
      -- blocks; Y block index B = (py//8)*(w//8) + px//8 (full-res);
      -- chroma index under 4:2:0 box upsampling is the half-res block
      -- (py//16)*(w//16) + px//16, under 1x1x1 it is B. Y = dc_y + 128,
      -- cb/cr are the centered chroma (dc + 128 - 128 = dc)
      SELECT doc_id, ty, tx, f, s, px, py, w,
             ((s + 17 * ((py // 8) * (w // 8) + px // 8)) % 216) + 20 AS jy,
             ((s + 7 * (CASE WHEN f = 5
                             THEN (py // 16) * (w // 16) + px // 16
                             ELSE (py // 8) * (w // 8) + px // 8 END)) % 17) - 8 AS jcb,
             ((s + 11 * (CASE WHEN f = 5
                              THEN (py // 16) * (w // 16) + px // 16
                              ELSE (py // 8) * (w // 8) + px // 8 END)) % 17) - 8 AS jcr
      FROM grid
    ), g AS (
      SELECT doc_id, ty, tx,
             CASE
               WHEN f = 0 THEN 299 * ((s + px) % 256)
                         + 587 * ((s + py) % 256)
                         + 114 * ((s + px + py) % 256)
               WHEN f = 1 THEN 1000 * (((s + 17 * ((py // 8) * (w // 8) + px // 8)) % 231) + 13)
               WHEN f = 2 THEN 1000 * ((s + 7 * px + 13 * py) % 256)
               WHEN f IN (4, 5) THEN
                 -- libjpeg fixed-point YCbCr→RGB (scale 2^16, bias
                 -- 2^25 + 32768 keeps the shifted operand positive →
                 -- plain >> in every engine); fixture ranges keep RGB
                 -- in [5, 250] so no clamp branches
                   299 * (jy + ((91881 * jcr + 33587200) >> 16) - 512)
                 + 587 * (jy - (((22554 * jcb + 46802 * jcr + 33587200) >> 16) - 512))
                 + 114 * (jy + ((116130 * jcb + 33587200) >> 16) - 512)
               ELSE 299 * ((s + 3 * px) % 256)
                  + 587 * ((s + 5 * py) % 256)
                  + 114 * ((s + px * py) % 256)
             END AS gray
      FROM jc
    ), bits AS (
      SELECT a.doc_id,
             CASE WHEN b.gray > a.gray
                  THEN 1::BIGINT << CAST(a.ty * 8 + a.tx AS INTEGER)
                  ELSE 0 END AS v
      FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.ty = a.ty
                        AND b.tx = a.tx + 1
      WHERE a.tx < 8
    )
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS dhash FROM bits GROUP BY doc_id
"""

# BPE merge-learning replay (r13): all 3 rounds UNROLLED — the two-space
# symbol rendering (regexp_replace '(.)' → ' \\1 ', identical to the
# engine's construction), per-round pair counts from the symbol lists,
# argmax via ORDER BY count DESC, pair ASC (string order on 'a b' equals
# (a, b) tuple order because ' ' sorts below every letter), then the
# winning pair re-segments the corpus through a scalar-subquery
# replace() exactly like the chain encoder. min_count 2 = WHERE c >= 2;
# a round with no qualifying pair contributes no row, matching the
# engine's early stop.
EXT_ORACLE_SQL["ext_text_bpe_learn"] = r"""
    WITH w0 AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS raw
      FROM documents WHERE text IS NOT NULL
    ), w1 AS (
      SELECT unnest(string_split(
               trim(regexp_replace(lower(raw), '[^a-z]+', ' ', 'g')), ' '
             )) AS wd
      FROM w0
    ), s0 AS (
      SELECT regexp_replace(wd, '(.)', ' \1 ', 'g') AS s
      FROM w1 WHERE wd != ''
    ), p1 AS (
      SELECT pr, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(len(sy) - 1),
                      i -> sy[i+1] || ' ' || sy[i+2])) AS pr
        FROM (SELECT string_split(trim(s), '  ') AS sy FROM s0)
      ) GROUP BY pr
    ), m1 AS (
      SELECT pr FROM p1 WHERE c >= 2 ORDER BY c DESC, pr LIMIT 1
    ), s1 AS (
      SELECT replace(s0.s,
               ' ' || split_part(m1.pr, ' ', 1) || '  '
                   || split_part(m1.pr, ' ', 2) || ' ',
               ' ' || replace(m1.pr, ' ', '') || ' ') AS s
      FROM s0, m1
    ), p2 AS (
      SELECT pr, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(len(sy) - 1),
                      i -> sy[i+1] || ' ' || sy[i+2])) AS pr
        FROM (SELECT string_split(trim(s), '  ') AS sy FROM s1)
      ) GROUP BY pr
    ), m2 AS (
      SELECT pr FROM p2 WHERE c >= 2 ORDER BY c DESC, pr LIMIT 1
    ), s2 AS (
      SELECT replace(s1.s,
               ' ' || split_part(m2.pr, ' ', 1) || '  '
                   || split_part(m2.pr, ' ', 2) || ' ',
               ' ' || replace(m2.pr, ' ', '') || ' ') AS s
      FROM s1, m2
    ), p3 AS (
      SELECT pr, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(len(sy) - 1),
                      i -> sy[i+1] || ' ' || sy[i+2])) AS pr
        FROM (SELECT string_split(trim(s), '  ') AS sy FROM s2)
      ) GROUP BY pr
    ), m3 AS (
      SELECT pr FROM p3 WHERE c >= 2 ORDER BY c DESC, pr LIMIT 1
    )
    SELECT * FROM (
      SELECT 1::BIGINT AS rank, split_part(pr, ' ', 1) AS a,
             split_part(pr, ' ', 2) AS b FROM m1
      UNION ALL
      SELECT 2::BIGINT, split_part(pr, ' ', 1), split_part(pr, ' ', 2) FROM m2
      UNION ALL
      SELECT 3::BIGINT, split_part(pr, ' ', 1), split_part(pr, ' ', 2) FROM m3
    ) ORDER BY rank
"""

# Span-dedup replay (r13): same 5-token positional windows (short docs →
# one whole-text window, the contamination shingle convention), same
# md5-hash60 window identity BY CONTRACT on both sides, duplicates kept;
# n_dup_windows counts window occurrences whose corpus-wide hash count is
# >= 2 (a doc's own repeats count — span dedup removes all copies).
EXT_ORACLE_SQL["ext_dedup_spans"] = rf"""
    -- window identity is xxhash64 BY CONTRACT (r17 fast lane, was
    -- md5-hash60); the XXH64 chain prices per DISTINCT window string,
    -- occurrences re-attach by string (value-identical)
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks)-4),
                         i -> toks[i+1] || ' ' || toks[i+2] || ' ' ||
                              toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5])
             END sh
      FROM t
    ), shx AS (
      SELECT doc_id, sh2.shingle AS shingle
      FROM s, unnest(s.sh) AS sh2(shingle)
    ), dsh AS (
      SELECT DISTINCT shingle FROM shx
    ),
    {xxh64_cte('dsh', ['shingle'], 'shingle', prefix='sp')},
    smap AS (
      SELECT shingle, {xxh64_signed_expr('h')} AS h FROM sp_h
    ), w AS (
      SELECT shx.doc_id, smap.h FROM shx JOIN smap USING (shingle)
    ), f AS (
      SELECT h, COUNT(*) AS tot FROM w GROUP BY h
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN f.tot >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows
    FROM w JOIN f USING (h)
    GROUP BY w.doc_id ORDER BY w.doc_id
"""

# Span-removal replay (r14): windows with POSITIONS via a range join
# (DuckDB unnest has no ordinality; sh[i+1] over range(len(sh)) is the
# positional form), canonical occurrence via the (doc_id, pos) window
# rank — rn = 1 IS min(struct(doc_id, pos)), the Spark side's reduction —
# and the rebuild as list_filter over token positions. COALESCE(removed,
# []) mirrors the Spark left join's NULL-removal-set docs. Window
# identity is xxhash64 (r17 fast lane, was md5-hash60); the chain prices
# per DISTINCT window, positions re-attach by string.
EXT_ORACLE_SQL["ext_dedup_spans_drop"] = rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n_toks,
             CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(len(toks)-4),
                         i -> toks[i+1] || ' ' || toks[i+2] || ' ' ||
                              toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5])
             END sh
      FROM t
    ), w0 AS (
      SELECT doc_id, n_toks, CAST(u.p.pos AS BIGINT) AS pos,
             u.p.s AS shingle
      FROM s, unnest(list_transform(range(len(sh)),
                       i -> {{'pos': i, 's': sh[i+1]}})) AS u(p)
    ), dsh AS (
      SELECT DISTINCT shingle FROM w0
    ),
    {xxh64_cte('dsh', ['shingle'], 'shingle', prefix='sd')},
    smap AS (
      SELECT shingle, {xxh64_signed_expr('h')} AS h FROM sd_h
    ), w AS (
      SELECT w0.doc_id, w0.n_toks, w0.pos, smap.h
      FROM w0 JOIN smap USING (shingle)
    ), m AS (
      SELECT doc_id, n_toks, pos,
             COUNT(*) OVER (PARTITION BY h) AS tot,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM w
    ), rp AS (
      SELECT DISTINCT doc_id, pos + u.i AS rp
      FROM m, unnest(range(CASE WHEN n_toks < 5 THEN n_toks ELSE 5 END)) AS u(i)
      WHERE tot >= 2 AND rn > 1
    ), rem AS (
      SELECT doc_id, list(rp) AS removed, COUNT(*) AS n_removed
      FROM rp GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(array_to_string(
             list_transform(
               list_filter(range(len(t.toks)),
                 i -> NOT list_contains(COALESCE(rem.removed, []), i)),
               i -> t.toks[i+1]),
             ' '), '') AS cleaned
    FROM t LEFT JOIN rem USING (doc_id)
"""

# Image near-dup pair replay (r13): the 9×7 fixture pixels ARE the dHash
# sample grid, so the hashes replay closed-form per group member (base /
# perturbed-copy / decoy — mirrors _image_pair_fixture_blob exactly), and
# the pair set is the full (a<b) self-join with bit_count(xor) ≤ 3 — the
# fused pigeonhole plan must therefore emit every qualifying pair exactly
# once, never twice, never a dropped clique member.
EXT_ORACLE_SQL["ext_dedup_images"] = """
    WITH d AS (
      SELECT doc_id,
             ((doc_id % 3) + 3) % 3 AS m,
             (doc_id - ((doc_id % 3) + 3) % 3) // 3 AS gid
      FROM documents
    ), dg AS (
      SELECT doc_id, m,
             ((gid % 157) + 157) % 157 AS hg,
             40 * (((gid % 2) + 2) % 2) AS pert
      FROM d
    ), grid AS (
      SELECT dg.doc_id, dg.m, dg.hg, dg.pert,
             CAST(ty.y AS BIGINT) AS y, CAST(tx.x AS BIGINT) AS x
      FROM dg, range(7) ty(y), range(9) tx(x)
    ), g AS (
      SELECT doc_id, y, x,
             CASE
               WHEN m = 2 THEN 1000 * ((hg + 97 * x + 53 * y + 11 * x * y) % 256)
               WHEN m = 0 THEN 1000 * ((hg + 29 * x + 31 * y) % 180 + 20)
               ELSE 1000 * ((hg + 29 * x + 31 * y) % 180 + 20
                            + CASE WHEN (x = 4 AND y = 3) OR (x = 1 AND y = 5)
                                   THEN pert ELSE 0 END)
             END AS gray
      FROM grid
    ), bits AS (
      SELECT a.doc_id,
             CASE WHEN b.gray > a.gray
                  THEN 1::BIGINT << CAST(a.y * 8 + a.x AS INTEGER)
                  ELSE 0 END AS v
      FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      WHERE a.x < 8
    ), hs AS (
      SELECT doc_id, CAST(SUM(v) AS BIGINT) AS dhash FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
    FROM hs a JOIN hs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""

# Line-dedup replay: same hash-keyed winner rule (ROW_NUMBER over
# (doc_id, pos) mirrors Spark's min(struct) reduction), same
# whitespace-only exemption, string_agg ORDER BY pos mirrors the
# array_sort reassembly. Line identity is xxhash64 (r17 fast lane, was
# md5): the chain prices per DISTINCT content line; whitespace-only
# lines never enter the map, so they keep unconditionally as before.
EXT_ORACLE_SQL["ext_dedup_lines"] = rf"""
    WITH ls AS (
      SELECT doc_id, string_split(text, chr(10)) AS arr
      FROM documents WHERE text IS NOT NULL
    ), lp AS (
      SELECT doc_id, arr, CAST(unnest(range(len(arr))) AS BIGINT) AS pos
      FROM ls
    ), l AS (
      SELECT doc_id, pos, arr[pos + 1] AS line FROM lp
    ), dl AS (
      SELECT DISTINCT line FROM l WHERE trim(line) <> ''
    ),
    {xxh64_cte('dl', ['line'], 'line', prefix='ld')},
    lmap AS (
      SELECT line, {xxh64_signed_expr('h')} AS h FROM ld_h
    ), w AS (
      SELECT h, doc_id AS wdoc, pos AS wpos FROM (
        SELECT lm.h AS h, l.doc_id, l.pos,
               ROW_NUMBER() OVER (PARTITION BY lm.h
                                  ORDER BY l.doc_id, l.pos) AS rn
        FROM l JOIN lmap lm USING (line)
        WHERE trim(l.line) <> '') WHERE rn = 1
    ), k AS (
      SELECT l.doc_id, l.pos, l.line,
             (w.h IS NULL OR (l.doc_id = w.wdoc AND l.pos = w.wpos)) AS kept
      FROM l LEFT JOIN lmap lm USING (line)
             LEFT JOIN w ON lm.h = w.h
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           coalesce(string_agg(CASE WHEN kept THEN line END,
                               chr(10) ORDER BY pos), '') AS clean_text
    FROM k GROUP BY doc_id
"""

# SemDeDup replay: the ivf cells CTE (integer-quantized argmin, the
# ext_ann_ivf idiom) + an in-cell near-dup pair set (list_cosine_similarity,
# the ext_dedup_embedding idiom) + the greedy lowest-id keep rule.
EXT_ORACLE_SQL["ext_dedup_semantic"] = """
    WITH comp AS (
      SELECT vec_id, t.i,
             CAST(floor(embedding[t.i+1]::DOUBLE * 1000000) AS BIGINT) AS q
      FROM embeddings, range(64) t(i)
      WHERE embedding IS NOT NULL AND len(embedding) = 64 AND vec_id < 5000
    ), cent AS (
      SELECT vec_id AS cid, i, q FROM comp WHERE vec_id BETWEEN 20 AND 35
    ), d2c AS (
      SELECT c.vec_id, ct.cid, SUM((c.q - ct.q) * (c.q - ct.q)) AS d2
      FROM comp c JOIN cent ct USING (i)
      GROUP BY c.vec_id, ct.cid
    ), cells AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2c) WHERE rn = 1
    ), vc AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cid
      FROM embeddings e JOIN cells c USING (vec_id)
      WHERE e.vec_id < 5000 AND e.embedding IS NOT NULL
        AND len(e.embedding) = 64
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM vc a JOIN vc b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
    )
    SELECT v.vec_id, v.cid AS cell,
           (d.vec_id IS NULL) AS kept
    FROM vc v LEFT JOIN dropped d ON d.vec_id = v.vec_id
"""
