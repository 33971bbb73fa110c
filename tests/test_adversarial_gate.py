"""Adversarial-fixture gate (VERDICT r6 item 8): build the hostile SF from
tools/gen_adversarial_sf.py (NULLs everywhere, NULL-user_id events with
valid ts, trailing-newline sources, empty/unicode text, zero vectors,
boundary numerics) and run the SAME Spark-vs-DuckDB compare the driver
runs — over the queries whose cross-engine parity the hostile rows
actually stress.

The driver regenerates /root/testdata between rounds; any query whose
parity silently depends on "the fixture never contains X" is a latent
gate failure. This test makes the property a committed green sweep
instead of a per-round discovery (ADVICE r6 found two such hazards:
USING-join NULL drops in funnel/retention, Java-vs-RE2 `$` in priority).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import check_one, oracle_connection  # noqa: E402

SRC_SF = "/root/testdata/sf0.001"

# Queries over the tables that receive hostile rows (events, documents,
# embeddings, orders, lineitem, customer...). The pure-dim and
# multimodal/index queries are covered by the normal gate; re-running
# them here would triple suite time without new signal.
ADVERSARIAL_QUERIES = [
    # events: NULL row, NULL-user_id + valid ts, malformed/decimal JSON,
    # pre-epoch ts, extreme values
    "ext_events_funnel",
    "ext_events_retention",
    "ext_events_sliding",
    "ext_events_json",
    "ext_events_topk",
    "ext_window_range",
    "ext_window_running",
    "ext_sessionize",
    # documents: NULL/empty/whitespace/unicode text, dup texts across
    # sources, trailing-newline source, DDL-text match/near-miss rows
    "q08",
    "ext_dedup_priority",
    "ext_dedup_exact",
    "ext_dedup_lines",
    # r13: hostile text (NULL/empty/whitespace/dup-across-sources) hits
    # the whole-text-window convention and the dup counting
    "ext_dedup_spans",
    # r14: the removal transform — planted ≥5-token spans (-17/-18) pin
    # cross-doc excision + within-doc keep-first; the short-dup rows
    # (-5/-6/-7) pin whole-text-window removal; whitespace rows pin the
    # tokenize/rejoin contract
    "ext_dedup_spans_drop",
    "ext_dedup_ngram",
    # r17: the xxhash64 fast-lane swap moved these two md5-hash60
    # contract queries onto the generated XXH64 chain — unicode tokens /
    # shingles through the chain, NULL/empty/whitespace text filtered
    # identically, duplicate texts across sources inflate term and
    # shingle frequencies on both sides
    "ext_text_commonness",
    "ext_contamination",
    # r15: URL-level dedup — the hostile NEGATIVE doc_ids stress the
    # sign-of-dividend % parity the residue branches (and the oracle's
    # CASE arms) rely on; r16: the synthesis also emits the multi-param
    # shape (leading utm + >=2 surviving params) the r15 re-anchor bug
    # mangled, so negative-id multi-param URLs are pinned here too
    "ext_dedup_urls",
    # r16: video sampling — the oracle's luma residue is sign-normalized
    # (((x%201)+201)%201) exactly like its bw/bh/nf arms; the all-negative
    # doc_ids here are what that normalization exists for (r15 ADVICE)
    "ext_multimodal_video",
    # r15: quantile histogram — unicode (code-point length parity),
    # NULL/empty text, and single-doc languages stress the grid + the
    # integer-ceil quantile rule on both sides
    "ext_sketch_histogram",
    # r16: portable HLL — unicode tokens through md5, empty/whitespace
    # text filtered identically, single-doc langs land in the
    # linear-counting branch (shared precomputed table on both sides)
    "ext_sketch_hll",
    # r16: HLL shard merge — same hostile class as ext_sketch_hll, plus
    # the cross-source duplicate texts make shard sketches OVERLAP, so
    # the max-of-maxes merge (not a sum) is what keeps both engines equal
    "ext_sketch_hll_merge",
    # r16: binned interval join — NULL-ts rows excluded on both sides
    # (the sessionize rule), NULL user_id stays one session group, and
    # pre-epoch/extreme timestamps exercise the integer bucket math
    "ext_events_interval_join",
    # r16: weighted priority sampling — the hostile NULL-n_chars rows
    # pin the explicit filter (NULLS FIRST/LAST divergence otherwise),
    # negative doc_ids flow through the string-cast hash identically
    "ext_sample_weighted",
    # r16: KMV Jaccard — the NULL-lang group must drop from pairing on
    # both engines (NULL < comparison), single-doc langs give tiny exact
    # sketches, unicode tokens exercise md5 parity, and duplicate texts
    # across sources raise cross-lang overlap
    "ext_sketch_kmv_jaccard",
    # r16: count-min — the hostile duplicate texts inflate true counts,
    # unicode tokens exercise md5 parity, and the negative doc_ids sit
    # outside the probe scope on both sides identically
    "ext_sketch_cms",
    # r16: content-keyed split — NULL text folds to '' (the exact_dedup
    # identity) and duplicate texts across sources must count as ONE
    # n_texts in exactly one split on both sides
    "ext_split_by_content",
    # r16: k-center greedy — the NULL/ragged embedding rows must be
    # dropped by the valid_vectors contract on both sides, and the
    # negative-id zero/epsilon vectors become pick #1 (min id seed) and
    # legitimate far-point candidates
    "ext_sample_kcenter",
    # r16: z-order kernel — the hostile NULL row, NULL user_id, negative
    # and extreme (±2^62-class) ids stress the double-mod + bounded
    # scramble (no ANSI overflow) and the NULL→NULL-key→NULL-group path
    "ext_layout_zorder",
    # r16: tf-idf keywords — unicode tokens through md5 parity,
    # NULL/empty/whitespace text filtered identically on both sides,
    # duplicate texts across sources stress df counting, and equal
    # tf/df rank keys pin the token-ASC tie-break cross-engine
    "ext_text_tfidf",
    # r14: quality-aware keep-one — the dup rows (-5/-6/-7, identical
    # text => one cluster, equal scores => lowest doc_id wins) and the
    # empty/whitespace rows (scoreless members rank below every scored
    # one via the sentinel) exercise both selection clauses
    "ext_dedup_cluster_best",
    "ext_dedup_fingerprint",
    "ext_text_quality",
    "ext_text_quality_score",
    "ext_text_langid",
    "ext_text_tokens_by_lang",
    "ext_text_chunks",
    "ext_text_bpe",
    "ext_pack_bpe",
    # r13: hostile text exercises the learner's normalization-boundary
    # contract (pairs never counted across a gap the encoder can't
    # merge) and the unrolled 3-round oracle on NULL/empty/unicode rows
    "ext_text_bpe_learn",
    "ext_text_redact",
    "ext_budget_sample",
    "ext_sketch_kmv",
    "ext_text_vocab",
    # embeddings: zero vector (try_divide/zero-norm contract), negative
    # ids, NULL embedding (r11: valid_vectors drop, mirrored by
    # embedding IS NOT NULL in the oracles — a NULL row must never kill
    # a numpy kernel, and as a negative-id QUERY it exercises the
    # collect-side skip in the ann family)
    "ext_dedup_embedding",
    "ext_dedup_embedding_lsh",
    "ext_dedup_semantic",
    # negative doc_ids pin the positive-mod id→dims mapping (Python
    # floored mod vs DuckDB C mod) across the closed-form pixel replay
    "ext_multimodal_dhash",
    # r13: negative ids pin the floored-division group/member mapping
    # (gid = (i - pmod)/3) and the pair join over hostile id space
    "ext_dedup_images",
    # r13: negative ids pin the positive-mod audio fixture params and
    # the (j*57)//n window partition across Python/SQL
    "ext_multimodal_audiohash",
    "ext_embed_quantize",
    "ext_embed_centroid",
    "ext_ann_topk",
    "ext_ann_lsh",
    "ext_ann_ivf",
    "ext_ann_pq",
    # TPC-H side: NULL fact columns, negative keys, boundary decimals
    "q01",
    "q06",
    # NULL-custkey 'F' order: NOT IN three-valued trap (oracle pins
    # o_custkey IS NOT NULL to match the Spark fold's NULL-key drop)
    "q11",
    "q14",
    "q21",
    "q22",
    # EXCEPT with a NULL key reaching the set-op (NULL-custkey 'F' order)
    "q29",
    "ext_profile_orders",
    # r17: ROLLUP — the NULL l_returnflag/l_linestatus DATA rows collide
    # with subtotal NULLs; the GROUPING() indicator columns are the
    # disambiguation contract this sweep pins
    "q30",
    # r17: Misra–Gries top-k — the NULL-source doc drops its tokens at
    # the shard-threshold join on BOTH engines (equi vs USING, the
    # funnel/retention convention); dup texts inflate shard counts
    "ext_topk_freq",
    # r17: Bloom membership — NULL-lang filter row survives via
    # eqNullSafe / IS NOT DISTINCT FROM (the hll_merge rule); unicode
    # tokens ride the xxhash64 chain's multibyte path
    "ext_sketch_bloom",
    # r17: expectation suite — NULL rule columns pass range rules and
    # fail the not-null rule identically; the l_orderkey=-2 lineitem
    # rows are REAL RI orphans; c_name='x' and NULL c_name split the
    # format rule's violate-vs-NULL-pass arms
    "ext_quality_expectations",
    # r17: script detection — unicode text ("xé Ω"), NULL/empty/
    # whitespace text, and the fixed-priority tie chain on hostile rows
    "ext_text_scripts",
    # r17: sequence motifs — NULL-ts rows excluded, NULL user_id is ONE
    # group whose hostile view+purchase events render into a real
    # sequence, pre-epoch timestamps order before everything
    "ext_events_motif",
    # r17: exact 3σ outliers — the hostile 1e9 value rides the clamp
    # rail (not an overflow), NULL values drop, NULL event_type is one
    # group through the eqNullSafe moment join
    "ext_events_outliers",
]


@pytest.fixture(scope="module")
def adv_sf(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("adv") / "sf")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_adversarial_sf.py"), SRC_SF, dst],
        check=True,
        capture_output=True,
        timeout=300,
    )
    return dst


def test_adversarial_sweep_is_gate_green(spark, adv_sf):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = oracle_connection(adv_sf)
    failures = []
    for name in ADVERSARIAL_QUERIES:
        n, problems = check_one(spark, con, qs[name], oracles[name], adv_sf)
        if problems:
            failures.append((name, problems))
    assert not failures, failures


def test_adversarial_rows_actually_reach_the_queries(spark, adv_sf):
    """Guard the guard: the hostile rows must be IN the scanned data (a
    refactor of the generator that silently stops appending would turn
    the sweep above into a no-op green)."""
    ev = spark.read.parquet(f"{adv_sf}/events.parquet")
    assert ev.filter("event_id < 0").count() >= 7
    assert (
        ev.filter("user_id IS NULL AND ts IS NOT NULL").count() >= 2
    ), "NULL-user_id/valid-ts rows missing (ADVICE r6 fixture)"
    docs = spark.read.parquet(f"{adv_sf}/documents.parquet")
    assert docs.filter("doc_id < 0").count() >= 7
    assert (
        docs.filter("source LIKE '%' || chr(10)").count() >= 1
    ), "trailing-newline source row missing (ADVICE r6 fixture)"


def test_q08_is_not_vacuous_on_adversarial_fixture(spark, adv_sf):
    """q08's RLIKE vs REGEXP_MATCHES contract passed every round on 0
    rows (VERDICT r9 item 2). The hostile fixture now carries DDL-text
    rows: the three keyword+whitespace variants MUST match and the two
    near-misses (keyword+letter, keyword at end of text) MUST NOT —
    asserted on the Spark side here; cross-engine equality of the same
    rows is the sweep above."""
    import __spark_entry__ as entrymod

    got = {
        r.doc_id
        for r in entrymod.queries()["q08"](spark, adv_sf)
        .filter("doc_id < 0")
        .collect()
    }
    assert got == {-8, -9, -10}, got


def test_q29_except_null_key_vs_anti_join(spark, adv_sf):
    """EXCEPT vs anti-join NULL-key contract (VERDICT r9 item 4): the
    fixture's NULL-custkey 'F' order puts a NULL key into q29's left
    branch with no NULL on the right. EXCEPT uses grouping equality →
    NULL survives (both engines — cross-engine equality is the sweep);
    an =-keyed LEFT ANTI join never matches NULL → it ALSO keeps the
    NULL here, but drops it the moment the right side gains a NULL,
    where EXCEPT still removes it. Pin the divergent case explicitly."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    out = entrymod.queries()["q29"](spark, adv_sf)
    assert out.filter("k IS NULL").count() == 1, "NULL key must survive EXCEPT"

    orders = spark.read.parquet(f"{adv_sf}/orders.parquet")
    f_side = orders.filter("o_orderstatus = 'F'").select(
        F.col("o_custkey").alias("k"))
    # Gain a NULL on the right: EXCEPT now drops the NULL; anti join keeps it.
    o_side_with_null = orders.filter("o_orderstatus = 'O'").select(
        F.col("o_custkey").alias("k")
    ).unionAll(spark.sql("SELECT CAST(NULL AS BIGINT) AS k"))
    assert f_side.subtract(o_side_with_null).filter("k IS NULL").count() == 0
    anti = f_side.join(o_side_with_null, "k", "left_anti")
    assert anti.filter("k IS NULL").count() >= 1
