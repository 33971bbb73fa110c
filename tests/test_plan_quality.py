"""Plan-quality regression tests: the physical-plan properties PERF.md
documents must survive future edits (pushdown reaching the scan, broadcast
joins on dims, TakeOrderedAndProject for top-k, partial aggregation)."""

import io
import re
from contextlib import redirect_stdout

import pytest

from flink_cdc_multi_spark.plans import ALL_QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name):
    df = ALL_QUERIES[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q01")
    assert "PushedFilters:" in plan
    assert "Not(EqualTo(event_type,delete))" in plan
    # props column never read (pruned scan)
    assert "props" not in plan


def test_q09_broadcast_join_no_sortmerge(spark):
    plan = plan_of(spark, "q09")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q10_preagg_before_join(spark):
    plan = plan_of(spark, "q10")
    # partial aggregation on o_custkey must appear below the join
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q12_take_ordered_no_global_sort(spark):
    plan = plan_of(spark, "q12")
    assert "TakeOrderedAndProject" in plan


def test_q14_shipdate_pushdown(spark):
    plan = plan_of(spark, "q14")
    assert "LessThanOrEqual(l_shipdate" in plan
    # only the 6 needed columns are read
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q16_lang_pushdown(spark):
    plan = plan_of(spark, "q16")
    assert "EqualTo(lang,en)" in plan


def test_ext_tokens_partial_aggregation(spark):
    plan = plan_of(spark, "ext_text_tokens_by_lang")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_ext_dedup_exact_is_reduction_not_window(spark):
    # exact dedup must be a partial+final min_by reduction (map-side combine
    # collapses hot digests), never a row_number window (a hot digest —
    # billions of empty docs at 100 TB — would land on one task)
    plan = plan_of(spark, "ext_dedup_exact")
    assert "Window" not in plan
    assert "partial_min_by" in plan


def test_q06_q07_reduction_not_window(spark):
    # latest/first-image per key must compile to partial+final HashAggregate
    # (map-side combine), never a full shuffle+sort window (PERF.md sf1)
    for q, fn in (("q06", "partial_min_by"), ("q07", "partial_max_by")):
        plan = plan_of(spark, q)
        assert "Window" not in plan, q
        # a partial_*_by aggregate = map-side combine (Spark only labels the
        # pre-shuffle agg "partial"); the shuffle carries one candidate per
        # key per partition (SortAggregate is expected — struct-valued
        # min/max_by has no hash-agg buffer)
        assert fn in plan, q


def test_q11_single_orders_pass(spark):
    # both existence tests fold into one partial-aggregated pass over orders:
    # exactly one scan of orders, aggregated before the single semi join
    plan = plan_of(spark, "q11")
    assert plan.count("orders.parquet") == 1
    assert plan.count("HashAggregate") >= 2


def test_q08_prefilter_lossless(spark):
    # q08's cheap contains() pre-filter must never drop a regex match; the
    # testdata has zero DDL-looking docs, so exercise the equivalence on
    # synthetic edge cases (case variants, tab/newline \s, substring hits,
    # keyword-without-whitespace non-matches)
    import pyspark.sql.functions as F

    rows = [
        ("CREATE table t", True),
        ("cReAtE\tx", True),
        ("procreate now", True),     # substring 'create' + \s after
        ("drop\nit", True),
        ("ALTER  y", True),
        ("created", False),          # keyword not followed by \s
        ("altered state", False),    # 'alter' followed by 'e', never \s
        ("nothing here", False),
        ("DROPLET x", False),        # 'drop' then 'L', no \s
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    regex = r"(?i)(create|drop|alter)\s"
    low = F.lower(F.col("text"))
    pre = low.contains("create") | low.contains("drop") | low.contains("alter")
    got = {
        r["text"]
        for r in df.filter(pre).filter(F.col("text").rlike(regex)).collect()
    }
    want = {t for t, m in rows if m}
    plain = {r["text"] for r in df.filter(F.col("text").rlike(regex)).collect()}
    assert got == want == plain


def test_latest_image_operator_is_reduction_not_window(spark):
    """operators/cdc.latest_image must stay a max_by REDUCTION (map-side
    partial agg, skew-safe) — a row_number window would sort every key
    group and ship each hot key's entire history to one task."""
    import io as _io
    from contextlib import redirect_stdout as _rs

    from flink_cdc_multi_spark.operators.cdc import latest_image
    from flink_cdc_multi_spark.plans.queries import load_table

    ev = load_table(spark, SF, "events")
    df = latest_image(
        ev.withColumnRenamed("event_type", "_op"), ["user_id"], ["event_id"],
        drop_deletes=False,
    )
    buf = _io.StringIO()
    with _rs(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "partial_max_by" in plan


def test_q18_tiny_dims_broadcast_only(spark):
    """q18's explicit broadcasts are ONLY the always-tiny region/nation
    hops; customer-sized inputs must stay AQE-decided (a forced broadcast
    of customer dies at cluster scale)."""
    import inspect

    from flink_cdc_multi_spark.plans import queries as Q

    src = inspect.getsource(Q.q18)
    assert src.count("F.broadcast") == 2
    plan = plan_of(spark, "q18")
    assert "BroadcastHashJoin" in plan


def test_ext_contamination_broadcast_probe_no_corpus_shuffle(spark):
    # probe shingle set must broadcast; the corpus side must not exchange
    # on the shingle (its only exchange is the per-doc count agg + the
    # shingle window)
    plan = plan_of(spark, "ext_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ext_text_vocab_topk_no_global_sort(spark):
    plan = plan_of(spark, "ext_text_vocab")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final token count


def test_ext_text_bigrams_topk_no_global_sort(spark):
    plan = plan_of(spark, "ext_text_bigrams")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("Sort [pos", "")  # per-doc lead sort ok


def test_ext_pack_sequences_distributed_prefix_sum(spark):
    """The prefix sum must stay two-phase: the per-doc window PARTITIONS
    by the bucket (no unpartitioned global-order WindowExec over the
    corpus), and the shared counted frame reads from cache (tokenize-once
    contract) rather than re-scanning per branch."""
    plan = plan_of(spark, "ext_pack_sequences")
    assert "InMemoryTableScan" in plan
    # every Window in the plan carries the bucket partition spec
    import re

    for m in re.finditer(r"Window \[[^\]]*\]", plan):
        assert "_bkt" in m.group(0), m.group(0)


def test_ext_text_bpe_rides_arrow_kernel(spark):
    """r18 wave 3: the registered BPE encode must ride the Arrow
    rank-dict kernel, not the 16-replace codegen chain — each replace()
    is a full-string scan+allocation per document (ABAB 1.9x/5.0x/4.2x
    at sf0.1/1/10, bit-identical by the pinned kernel==chain contract).
    The chain remains the definitional form the DuckDB oracle SQL is
    generated from."""
    plan = plan_of(spark, "ext_text_bpe")
    assert "ArrowEvalPython" in plan
    assert " replace(" not in plan


def test_ext_pack_bpe_kernel_count_single_eval(spark):
    """r18 wave 3b: ext_pack_bpe's count rides the Arrow kernel behind
    pack_offsets' count barrier — no replace chain anywhere in the plan
    (the unbarriered form inlined ~20 chain copies across the filter and
    prefix-sum branches: 326 replace() nodes, 42 s at sf1 vs 2.2 s), and
    the counted frame still reads from cache (tokenize-once)."""
    plan = plan_of(spark, "ext_pack_bpe")
    assert "ArrowEvalPython" in plan
    assert " replace(" not in plan
    assert "InMemoryTableScan" in plan


def test_ext_ann_topk_vectorized_kernel_and_group_limit(spark):
    """Brute-force ANN must score through the Arrow kernel (MapInPandas)
    with the final rank as a WindowGroupLimit (per-partition top-k heap),
    never a corpus-wide cartesian through an interpreted fold."""
    plan = plan_of(spark, "ext_ann_topk")
    assert "MapInPandas" in plan or "PythonMapInArrow" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ext_ann_ivf_fused_one_pass(spark):
    """IVF (r17 optimization round): the fused form runs cells +
    candidate masks + cosine in ONE MapInPandas pass over the corpus —
    no ArrowEvalPython hops (the unfused plan paid the corpus-side
    cell_of TWICE via the pushed isnotnull(cell) filter — guide §4.4's
    duplication trap), no broadcast join, no interpreted per-pair fold;
    the final rank stays a WindowGroupLimit top-k heap."""
    plan = plan_of(spark, "ext_ann_ivf")
    # formatted explain prints each node in the tree AND detail section,
    # so ONE MapInPandas node appears exactly twice
    assert plan.count("MapInPandas") == 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" not in plan and "WindowGroupLimit" in plan


def test_ext_ann_lsh_fused_one_pass(spark):
    """LSH ANN (r17 optimization round): same fused contract as
    ext_ann_ivf — ONE MapInPandas pass (the unfused plan double-evaluated
    the corpus-side sig UDF and paid a probe-explode broadcast join plus
    a pair-key dropDuplicates SortAggregate pair); membership masks
    dedup inherently, so no aggregate remains between the kernel and the
    WindowGroupLimit rank tail."""
    plan = plan_of(spark, "ext_ann_lsh")
    # tree + detail: one node = two occurrences
    assert plan.count("MapInPandas") == 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" not in plan and "SortAggregate" not in plan
    assert "WindowGroupLimit" in plan


def test_ext_dedup_semantic_no_all_pairs(spark):
    """SemDeDup (r12): the quadratic lives INSIDE the per-cell Gram
    kernel — the Spark plan must carry no join of any kind (the oracle's
    pair self-join is DuckDB's replay, not the plan) and exactly one
    exchange: the hash partition on cell feeding FlatMapGroupsInPandas."""
    plan = plan_of(spark, "ext_dedup_semantic")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    # formatted plans render each node twice (tree line + detail block)
    assert plan.count("Exchange") == 2  # ONE Exchange node
    assert "hashpartitioning(cell" in plan


def test_ext_dedup_semantic_trained_same_plan_shape(spark):
    """The trained-centroid variant (r15) must keep the fixed variant's
    exact scale shape: the kmeans model rides the pandas_udf closure
    (broadcast-size, built at plan time by documented contract), so the
    plan still has no join and exactly ONE exchange on cell."""
    plan = plan_of(spark, "ext_dedup_semantic_trained")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(cell" in plan


def test_q21_aggregate_form_no_self_joins(spark):
    """The r7 rewrite evaluates the EXISTS/NOT-EXISTS correlation as
    per-orderkey aggregates (n_late == 1, n_supp > 1): the plan must be
    equi-joins only — no semi/anti self-joins with != residuals, no
    cartesian — and the supplier dim must ride a broadcast."""
    plan = plan_of(spark, "q21")
    assert "LeftSemi" not in plan
    assert "LeftAnti" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    # min/max form: no count_distinct, so no Expand fan-out over the fact
    # table (the Expand variant measured 31.8 s vs 4.6 s at sf10)
    assert "Expand" not in plan
    # the orders join must be shuffled-hash (skips two fact-table sorts)
    assert "ShuffledHashJoin" in plan
    # two orderkey aggs + join + final name agg: lineitem is scanned
    # twice but never a third time (the old form built `late` twice).
    # Count detail-section node headers ("(N) Scan parquet"), not raw
    # substring hits — the tree+detail double-render is a formatting
    # detail that could change across Spark versions.
    import re

    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    # Lower bound guards the guard: if a Spark version changes the
    # formatted-explain header layout, findall returning 0 must fail
    # loudly here, not silently disable the scanned-at-most-4 check.
    assert 1 <= len(scan_nodes) <= 4, scan_nodes


def test_q22_scalar_subquery_broadcast_and_anti(spark):
    plan = plan_of(spark, "q22")
    assert "LeftAnti" in plan
    # the 1-row stats aggregate rides a broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ext_events_funnel_single_exchange_window_chain(spark):
    """The four stage mins share ONE user_id Exchange+Sort (partition-
    constant windows over the same spec); only the final global 4-counter
    agg adds a single-partition exchange."""
    plan = plan_of(spark, "ext_events_funnel")
    # formatted plans render each node twice (tree line + detail block)
    assert plan.count("Window") == 8  # 4 Window nodes
    assert plan.count("Exchange") <= 4  # user_id + final-agg, 2 nodes
    assert plan.count("Sort (") <= 1  # ONE sort shared by all 4 windows


def test_ext_events_retention_two_exchanges_no_join(spark):
    """Retention is a 2-exchange plan: per-user day-set aggregate + tiny
    cell aggregate; no join, no re-shuffle of the activity stream."""
    plan = plan_of(spark, "ext_events_retention")
    assert plan.count("Exchange") <= 4  # 2 nodes (tree + detail lines)
    assert "Join" not in plan


def test_ext_text_redact_stays_in_scan_projection(spark):
    """The scrub is a scan-side map: no exchange, no UDF eval node —
    regexp_count/replace stay in the codegen'd projection."""
    plan = plan_of(spark, "ext_text_redact")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(event_id), LessThan(event_id,4000)]" in plan


def test_ext_events_json_partial_agg(spark):
    plan = plan_of(spark, "ext_events_json")
    # partial + final aggregate pair; JSON extraction is JVM-side
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ext_events_topk_window_group_limit(spark):
    """Top-N-per-group must push the k-limit below the exchange: the map
    side forwards <= k rows per group (WindowGroupLimit), never the whole
    table through the sort."""
    plan = plan_of(spark, "ext_events_topk")
    assert "WindowGroupLimit" in plan


def test_ext_embed_centroid_partial_agg(spark):
    """Vector aggregate: posexplode then ONE partial+final aggregate pair
    on (label, dim) — no window, no join."""
    plan = plan_of(spark, "ext_embed_centroid")
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan and "Window" not in plan


def test_ext_text_tfidf_hash_agg_and_group_limit(spark):
    """r16: the tf build must stay a HashAggregate (grouping by the token
    string — carrying the string through min() demotes the occurrence
    stream to a SortAggregate, the first-draft regression), the top-k
    must pre-reduce map-side (WindowGroupLimit), and at gate SF the
    provably-small df table is broadcast so the doc×term stream never
    shuffles on h."""
    plan = plan_of(spark, "ext_text_tfidf")
    assert "SortAggregate" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    # only (doc_id, text) are ever read
    assert "n_chars" not in plan and "source" not in plan
    # r17 wave 9: the df branch's partial aggregate must carry tf's count
    # buffer (the guarded sum reads tf) so BOTH (doc_id, token) exchange
    # subtrees stay identical — a regression to count(*) re-plans the
    # whole tokenize pass twice (Functions: [] distinct-agg branch)
    assert "Functions: []" not in plan


def test_ext_text_tfidf_reuses_tf_exchange(spark):
    """r17 wave 9, the runtime half (AQE reuse never shows statically):
    executing tfidf must reuse the (doc_id, token) exchange — the
    tokenize+explode+partial-count pass runs ONCE for both the tf and
    df branches."""
    df = ALL_QUERIES["ext_text_tfidf"](spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    reused = [
        ln for ln in executed.splitlines()
        if "ReusedExchange" in ln and "hashpartitioning(doc_id" in ln
    ]
    assert reused, executed


def test_ext_events_interval_join_is_binned_equi_never_nested_loop(spark):
    """r16: the range join must run as an EQUI join on the bucket id
    (containment as a residual filter) — a naive BETWEEN-only join plans
    BroadcastNestedLoopJoin, the quadratic 100 TB killer."""
    plan = plan_of(spark, "ext_events_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
            or "SortMergeJoin" in plan)
    assert "Generate" in plan  # the interval→bucket explode


def test_ext_sample_weighted_take_ordered_no_exchange(spark):
    """r16: the global top-k must be TakeOrderedAndProject (each map
    task forwards ≤ k rows — never a corpus sort), the n_chars filter
    must reach the scan, and only (doc_id, n_chars) are read; the rank
    window runs on the collected 100 rows with no further exchange."""
    plan = plan_of(spark, "ext_sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert "+- Exchange" not in plan
    assert "PushedFilters: [IsNotNull(n_chars)]" in plan
    assert "text" not in plan


def test_ext_sketch_kmv_jaccard_group_limit_no_cartesian_blowup(spark):
    """r16: the sketch build must pre-reduce map-side (WindowGroupLimit,
    the KMV merge); the pairing self-join runs on sketch-sized rows and
    must be a broadcast join, never a shuffle of anything corpus-sized."""
    plan = plan_of(spark, "ext_sketch_kmv_jaccard")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ext_sketch_hll_merge_partial_agg_no_expand(spark):
    """r16: the shard build must keep the mergeable-sketch shape —
    partial_max collapses map tasks before the one corpus exchange; the
    second-level merge and n_shards run on sketch-sized rows. The
    count_distinct is the only aggregate in its groupBy, so no Expand
    fan-out may appear."""
    plan = plan_of(spark, "ext_sketch_hll_merge")
    assert "partial_max" in plan
    assert "Expand" not in plan and "Window" not in plan


def test_ext_layout_zorder_scan_local_single_exchange(spark):
    """r16: the Morton kernel must stay scan-local integer bit math —
    ONE partial-agg'd exchange on the zprefix, no joins/windows/Expand,
    and the events scan reads ONLY (event_id, user_id)."""
    plan = plan_of(spark, "ext_layout_zorder")
    assert plan.count("+- Exchange") == 1  # tree section: exactly one
    assert "Join" not in plan and "Window" not in plan and "Expand" not in plan
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in plan
    # the dims must stay materialized behind the Generate barrier (the
    # 2^5 leaf-duplication rule — see layout.dim_barrier)
    assert "Generate" in plan


def test_ext_sketch_kmv_window_group_limit(spark):
    """The k-smallest selection must pre-reduce map-side (WindowGroupLimit
    = distributed per-partition KMV merge), never ship every distinct
    hash through the lang sort unlimited."""
    plan = plan_of(spark, "ext_sketch_kmv")
    assert "WindowGroupLimit" in plan


def test_ext_sketch_hll_is_pure_partial_agg(spark):
    """r16: the HLL register build must be the mergeable-sketch plan —
    partial_max collapses each map task to ≤ |langs|·64 register rows
    BEFORE the exchange (the entire point of HLL at 100 TB), with no
    distinct pre-pass, no window, no Expand; the scan reads only
    (lang, text)."""
    plan = plan_of(spark, "ext_sketch_hll")
    assert "partial_max" in plan
    assert "Expand" not in plan and "Window" not in plan
    assert "ReadSchema: struct<text:string,lang:string>" in plan or (
        "lang" in plan and "n_chars" not in plan and "source" not in plan
    )


def test_ext_sketch_cms_broadcast_probe_no_expand(spark):
    """r16: the CMS build must be one partial-agg'd exchange (cell-wise
    SUM is the sketch merge; each map task collapses to ≤ d·w = 1024
    cell rows before the shuffle) and the point-query join must
    BROADCAST the 1024-cell sketch — never shuffle the probe side
    against it. Explode is Generate, not Expand."""
    plan = plan_of(spark, "ext_sketch_cms")
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "Expand" not in plan


def test_ext_split_by_content_stacked_aggs_no_expand(spark):
    """r16: n_texts + n_docs come from two STACKED partial aggregations
    (digest grain then split grain), never one groupBy with
    COUNT + COUNT(DISTINCT) — that compiles to Expand's |aggs|× row
    fan-out over the corpus (the q21 lesson). The scan reads only text."""
    plan = plan_of(spark, "ext_split_by_content")
    assert "Expand" not in plan
    # formatted explain prints each node in tree AND detail section —
    # count tree occurrences only
    assert plan.count("+- Exchange") == 2
    assert "ReadSchema: struct<text:string>" in plan


def test_profile_table_approx_has_no_expand(spark):
    """The approx profiling path (wide-table knob) must compile WITHOUT
    Catalyst's Expand — no |cols|-way row fan-out — while the exact
    oracle-gated default keeps the Expand single-pass form."""
    import io
    from contextlib import redirect_stdout

    from flink_cdc_multi_spark.plans.extensions import profile_table
    from flink_cdc_multi_spark.plans.queries import load_table

    t = load_table(spark, SF, "orders")

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    exact = plan(profile_table(t, approx=False))
    approx = plan(profile_table(t, approx=True))
    assert "Expand" in exact
    assert "Expand" not in approx
    # both stay single-pass: one scan each (path appears once per scan
    # node in the detail section)
    assert approx.count("orders.parquet") == 1
    assert exact.count("orders.parquet") == 1


def test_plans_md_is_fresh(spark):
    """PLANS.md freshness guard (VERDICT r7 item 2 / r8 item 2): the
    committed file must equal what tools/plan_report.generate() renders
    from the current query code, so plan rewrites (like the r7 q21
    shuffle-hash pin) can't silently leave PLANS.md lying. Regenerate
    with `python tools/plan_report.py` when this fails."""
    import sys
    from pathlib import Path

    repo_root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo_root / "tools"))
    try:
        import plan_report
    finally:
        sys.path.pop(0)

    fresh = plan_report.generate(spark, SF)
    committed = (repo_root / "PLANS.md").read_text()
    assert fresh == committed, (
        "PLANS.md is stale — regenerate with `python tools/plan_report.py`"
    )


def test_ext_dedup_minhash_fused_pair_dedup(spark):
    """The md5 LSH pair path (16-hash signatures) must stay the FUSED
    form (r9): one slice-keyed self-join with pair-dedup as a row-local
    first-equal-band filter — no pair dropDuplicates exchange, no
    signature re-attach joins. Measured at sf1 unscoped: fused 23.2 s vs
    compact 23.6 s, and ~3 fewer stages at the gated floor scale."""
    import re

    plan = plan_of(spark, "ext_dedup_minhash")
    # count KEYED exchanges only: the widen_narrow_scan RoundRobin
    # repartition (r10, parallelism guard for narrow scans) is not part
    # of the pair-path topology this test pins
    shuffles = re.findall(r"hashpartitioning\(", plan)
    assert 1 <= len(shuffles) <= 6, shuffles  # ≤3 keyed exchanges (detail lines)
    assert "hashpartitioning(a_id" not in plan  # no pair-key dedup exchange
    # exactly one join in the whole pipeline (the banded self-join)
    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 1, joins


def test_minhash_fast_path_fused_pair_dedup(spark):
    """The 64-hash xxhash64 fast path must ALSO stay fused (r10 flip):
    compact's pair-key dropDuplicates exchange is a hot-clique skew wall
    (sf10 100-copy cliques: compact 98.0 s warm / 192.8 s cold vs fused
    68.0/69.0 s at identical 27.31M pairs — PERF.md r10). Pin: one join,
    no (a_id, b_id) pair-key exchange."""
    import re

    import pyspark.sql.functions as F

    from flink_cdc_multi_spark.operators import dedup as D
    from flink_cdc_multi_spark.plans.queries import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 50)
    plan = (
        D.minhash_lsh_pairs(docs, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # tree-form string (no formatted numbering): count join operators
    joins = re.findall(r"(?:BroadcastHash|SortMerge|ShuffledHash)Join", plan)
    assert len(joins) == 1, joins
    assert "hashpartitioning(a_id" not in plan


def test_ext_dedup_simhash_fused_pair_dedup(spark):
    """Both simhash pair paths must stay the FUSED pigeonhole form (r10):
    one block-keyed self-join with pair-dedup as a row-local
    first-equal-block filter — no pair dropDuplicates exchange. Unlike
    minhash there is no byte trade-off (the compact join already carried
    both simhashes for the hamming verify), and the deleted exchange is
    where duplicate-clique skew concentrated: sf10 unscoped (100-dup
    cliques) measurements in PERF.md r10."""
    import re

    plan = plan_of(spark, "ext_dedup_simhash")
    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 1, joins
    # signature build (1-2 exchanges) + one self-join shuffle pair; the
    # compact form's (a_id, b_id) dedup exchange must NOT reappear
    assert "hashpartitioning(a_id" not in plan, "pair dropDuplicates is back"


def test_ext_dedup_spans_plan_shape(spark):
    """ext_dedup_spans (r13; rewritten r17 wave 8): the unique-complement
    form — the window stream is derived ONCE (exactly one xxhash64
    projection: the old commonness join re-derived the whole
    tokenize+shingle+hash subtree for the probe), there is NO h join at
    all (the only join is the doc-keyed left join of the regexp_count
    base against the owned-unique counts), every aggregate is a
    HashAggregate (min(doc_id) owner is an all-numeric buffer — no
    SortAggregate demotion), and the text filter reaches the scan."""
    plan = plan_of(spark, "ext_dedup_spans")
    assert "IsNotNull(text)" in plan  # pushdown at the scan
    assert plan.count("xxhash64") == 1  # single window-stream derivation
    assert plan.count("split(trim(") == 1  # exactly one tokenize pass
    # n_windows needs no second tokenize: regexp_count compiles to
    # size(regexp_extract_all(...)) — a count, not a token array
    assert "regexp_extract_all" in plan
    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 1, joins  # only the doc-keyed rollup join
    assert "SortMergeJoin" not in plan
    assert "SortAggregate" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final on both aggs


def test_ext_dedup_spans_drop_plan_shape(spark):
    """ext_dedup_spans_drop (r14; onepass r17 wave 8): the window stream
    is derived once and repartitioned on h — the freq aggregate and the
    join probe share that exchange (runtime ReusedExchange; the static
    initial plan under AQE shows two textually identical subtrees, so
    the pin checks the REPARTITION_BY_COL exchange is present and the
    h join is in-partition shuffled-hash, sort-free on the probe), the
    canonical pick is a min(struct) REDUCTION (no row_number Window —
    the materialization skew rule), and the doc-keyed removal join is
    shuffled-hash, never a full-corpus sort-merge."""
    plan = plan_of(spark, "ext_dedup_spans_drop")
    assert "IsNotNull(text)" in plan
    assert "REPARTITION_BY_COL" in plan  # the shared h exchange
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert plan.count("ShuffledHashJoin") >= 2  # h join + rebuild join
    assert "BroadcastHashJoin" not in plan  # freq broadcast topology gone


def test_ext_dedup_spans_drop_onepass_reuses_window_exchange(spark):
    """The single-derivation claim, checked at RUNTIME (AQE reuse never
    shows in the static initial plan): executing it must reuse the
    hashpartitioning(h) window exchange — i.e. the tokenize+shingle+hash
    Generate subtree runs ONCE, not once per consumer. Guards the two subtree-identity traps found while
    building it (n_toks column pruning; the inferred isnotnull(id)
    pushed into only the probe copy)."""
    from flink_cdc_multi_spark.operators.dedup import drop_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f a b c d e f"), (2, "a b c d e f"), (3, "x y")],
        "doc_id bigint, text string",
    )
    out = drop_duplicate_spans(docs)
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    import re as _re

    reused_h = [
        ln for ln in executed.splitlines()
        if "ReusedExchange" in ln and _re.search(r"hashpartitioning\(h#", ln)
    ]
    assert reused_h, executed


def test_ext_dedup_lines_plan_shape(spark):
    """ext_dedup_lines (onepass r18 wave 2): the line stream is derived
    once and repartitioned on (is_ws, h) — BOTH join keys, because
    requireAllClusterKeysForCoPartition (default true) rewrites a bare
    repartition(h) on the probe side only, de-identifying the subtrees
    (measured: 2 Generate passes + a stacked ENSURE exchange; ABAB
    0.9x) — the winner aggregate rides that exchange's partitioning and
    the probe is an in-partition SHJ: no SMJ, no Window, no broadcast
    topology, and no ENSURE_REQUIREMENTS exchange between the
    repartition and the join."""
    plan = plan_of(spark, "ext_dedup_lines")
    assert "REPARTITION_BY_COL" in plan  # the shared (is_ws, h) exchange
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_ext_dedup_lines_onepass_reuses_line_exchange(spark):
    """The single-derivation claim at RUNTIME (AQE reuse never shows in
    the static plan): executing line_dedup must reuse the
    hashpartitioning(is_ws, h) line exchange — scan+split+hash runs
    ONCE, not once per consumer. Guards the identity discipline: the
    winner struct carries `line` (pruning trap), the winner agg has no
    content pre-filter (pushdown trap), and all join keys are
    non-nullable (inferred-isnotnull trap)."""
    import re as _re

    from flink_cdc_multi_spark.operators.text import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb\n\na"), (2, "b\n \nc"), (3, "")],
        "doc_id bigint, text string",
    )
    out = line_dedup(docs)
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    reused = [
        ln for ln in final.splitlines()
        if "ReusedExchange" in ln
        and _re.search(r"hashpartitioning\(is_ws#\d+, h#", ln)
    ]
    assert reused, final
    # one split pass: count Generate OPERATOR lines (tree prefix, optional
    # codegen stage id, then the operator name), not the word anywhere
    generate = [
        ln for ln in final.splitlines()
        if _re.match(r"^[\s:|+\-]*(\*\(\d+\) )?Generate ", ln)
    ]
    assert len(generate) == 1, final


def test_ext_graph_pagerank_plan_shape(spark):
    """ext_graph_pagerank (r13): the 3 unrolled iterations must stay
    plain equi-join + partial-agg stages — no cartesian product, no
    Expand fan-out, and the whole unrolled plan constructs lazily (a
    regression to a plan-time collect would break the fully-lazy
    contract the docstring pins)."""
    plan = plan_of(spark, "ext_graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 8  # partial+final per stage
    # r14 (ADVICE r13): the iteration joins are shuffle_hash-hinted on
    # the node-cardinality side — SMJ would pay full sorts per iteration
    assert "SortMergeJoin" not in plan
    # r15 (VERDICT r14 item 2): at gate SF the node-count guard must take
    # the broadcast_ranks form — the per-iteration edge-side exchange is
    # deleted (sf10: 10.5 s shuffle → 4.7 s broadcast, 1.76× DuckDB)
    assert "BroadcastHashJoin" in plan


def test_ext_graph_labelprop_plan_shape(spark):
    """ext_graph_labelprop (r16): same Pregel-as-joins contract as
    pagerank — no cartesian, no Expand, no window, no SMJ
    (shuffle_hash/broadcast hints), and at gate SF the guarded
    broadcast_labels form. r18 wave 1: the broadcast lane's per-round
    argmax is ONE deterministic-mode aggregate (1 exchange/round), not
    the two-aggregate count→max(struct) chain (2/round) — pinned by
    the mode node and the exchange budget (3 rounds + init distinct +
    final = 4 exchanges; the two-agg form had 7)."""
    plan = plan_of(spark, "ext_graph_labelprop")
    assert "CartesianProduct" not in plan
    assert "Expand" not in plan and "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "mode(" in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_ext_graph_pagerank_guard_fails_closed(spark):
    """The pagerank broadcast guard must fail CLOSED: a remote-looking
    sf_dir (unreadable footers) keeps broadcast_ranks off — billion-node
    graphs on object stores must get the shuffle_hash form, never an
    unbounded driver broadcast."""
    from flink_cdc_multi_spark.plans.extensions import (
        _PAGERANK_BCAST_BYTES,
        _local_input_rows,
    )

    assert _local_input_rows("s3a://bucket/sf", "documents") * 16 > _PAGERANK_BCAST_BYTES
    assert _local_input_rows("/nonexistent/dir", "documents") * 16 > _PAGERANK_BCAST_BYTES


def test_ext_dedup_images_fused_pair_dedup(spark):
    """The image near-dup pair path (r13) must stay the FUSED pigeonhole
    form like the simhash paths: one block-keyed self-join, pair-dedup as
    the row-local first-equal-block filter — the pair-key dropDuplicates
    exchange is the hot-clique skew wall (CLAUDE.md; same-hash image
    cliques are part of this fixture's contract)."""
    import re

    plan = plan_of(spark, "ext_dedup_images")
    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 1, joins
    assert "hashpartitioning(a_id" not in plan, "pair dropDuplicates is back"


def test_q27_q28_shuffle_hash_not_sortmerge(spark):
    """q27/q28 fact joins must stay shuffled-hash on the smaller/filtered
    side (r9 sf10 A/B: q27 4.63 s SMJ → 2.63 s hinted; q28 11.9 s →
    2.94 s) — sort-merge pays full fact-table sorts."""
    for q in ("q27", "q28"):
        plan = plan_of(spark, q)
        assert "ShuffledHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_ext_text_commonness_broadcast_guard(spark):
    """Broadcast-when-small guard (VERDICT r10 item 6): a small LOCAL
    documents input proves the freq side broadcastable -> BroadcastHashJoin
    and the corpus token stream never exchanges on h; over the threshold
    (or remote input) the guard fails closed to the shuffled join, the
    100 TB-safe shape. sf10 A/B: shuffle 5.22 s vs broadcast 4.67 s min-of-3
    interleaved, identical 500k-row results (PERF.md r11)."""
    from flink_cdc_multi_spark.plans import extensions as E

    saved = E._COMMONNESS_BCAST_BYTES
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # kill Catalyst's own size-estimate broadcast so the plan reflects
        # ONLY the guard's hint (at test SF everything auto-broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        E._COMMONNESS_BCAST_BYTES = 1 << 62
        small = plan_of(spark, "ext_text_commonness")
        assert "BroadcastHashJoin" in small
        E._COMMONNESS_BCAST_BYTES = 0
        big = plan_of(spark, "ext_text_commonness")
        assert "BroadcastHashJoin" not in big
    finally:
        E._COMMONNESS_BCAST_BYTES = saved
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)


def test_ext_ann_pq_vectorized_kernel_and_group_limit(spark):
    """PQ ADC scan: encode+LUT-gather run in the Arrow mapInPandas kernel;
    the global rank is a WindowGroupLimit over per-batch top-k candidates
    (|batches|*|Q|*k rows, never |corpus|*|Q|)."""
    plan = plan_of(spark, "ext_ann_pq")
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan


def test_ext_ann_ivfpq_broadcast_probe_no_corpus_shuffle(spark):
    """IVF-PQ: one corpus pass (encode kernel), probes broadcast onto it
    (no corpus exchange for the candidate join), ADC kernel, then a
    WindowGroupLimit over the pre-reduced candidates."""
    plan = plan_of(spark, "ext_ann_ivfpq")
    assert plan.count("MapInPandas") >= 2  # encode + adc kernels
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_rollup_expand_rides_preagg(spark):
    """r17 optimization round (guide §2.3 aggregate-before-expand):
    Catalyst compiles rollup to an Expand — a |levels|× fan-out of its
    INPUT. Both rollup gate queries must expand the PRE-AGGREGATED
    (flag, status) base, never the raw lineitem scan: the Expand node's
    input must carry the base-agg counter (_n), and a HashAggregate
    must sit below it (ABAB: q30 2.97→1.75 s, rollup_agg 2.25→1.48 s
    at sf10)."""
    import re as _re

    for q in ("ext_rollup_agg", "q30"):
        plan = plan_of(spark, q)
        m = _re.search(r"\(\d+\) Expand\nInput \[\d+\]: \[([^\]]*)\]", plan)
        assert m is not None, q
        assert "_n#" in m.group(1), (q, m.group(1))
