"""Names and units of the per-layer metrics a traced run prints, grouped
by the package module they describe. BENCHMARK.json's ``per_layer`` lists
the same names; ``run.py --smoke`` checks that the two agree."""

from __future__ import annotations

# query -> family: ``relational`` is plans.queries, the others name the
# operators module (or in-plan graph code) the query's work runs in. One
# query per family: each query costs a cold first execution in every run,
# which the benchmark's time budget pays for.
QUERY_FAMILY = {
    "q18": "relational",
    "ext_text_tfidf": "text",
    "ext_sketch_hll_merge": "sketch",
    "ext_dedup_minhash": "dedup",
    "ext_ann_ivf": "similarity",
    "ext_graph_pagerank": "graph",
    "ext_events_interval_join": "intervals",
    "ext_cdc_ivm": "cdc",
    "ext_multimodal_resize": "multimodal",
}
FAMILIES = ("relational", "text", "sketch", "dedup", "similarity", "graph",
            "cdc", "intervals", "multimodal")

PER_LAYER: list[tuple[str, str]] = [
    # sources: file-feed listing and decode planning (streaming progress)
    ("sources.latest_offset_s", "s"),
    ("sources.get_batch_s", "s"),
    ("sources.input_rows", "count"),
    # streaming.pipeline: the micro-batch floor and its stages
    ("pipeline.batches", "count"),
    ("pipeline.rows_per_batch_p50", "count"),
    ("pipeline.batch_p50_s", "s"),
    ("pipeline.batch_p90_s", "s"),
    ("pipeline.jobs_per_batch", "count"),
    ("pipeline.trigger_s", "s"),
    ("pipeline.query_planning_s", "s"),
    ("pipeline.wal_commit_s", "s"),
    ("pipeline.commit_offsets_s", "s"),
    ("pipeline.stage.onepass_write_s", "s"),
    ("pipeline.stage.summary_s", "s"),
    ("pipeline.stage.route_write_s", "s"),
    ("pipeline.stage.offset_status_ctl_s", "s"),
    # operators.routing: publish and read-back
    ("routing.publish_s", "s"),
    ("routing.publish_calls", "count"),
    ("routing.files_written", "count"),
    ("routing.bytes_written", "B"),
    ("routing.read_published_s", "s"),
    # operators.cdc: compaction and materialization
    ("cdc.compactions", "count"),
    ("cdc.compact_s", "s"),
    ("cdc.latest_image_s", "s"),
    # plans and operators
    *[(f"query.{q}_s", "s") for q in QUERY_FAMILY],
    *[(f"family.{f}_s", "s") for f in FAMILIES],
    *[(f"family.{f}.jobs", "count") for f in FAMILIES],
    *[(f"family.{f}.shuffle_bytes", "B") for f in FAMILIES],
    *[(f"family.{f}.python_eval_s", "s") for f in FAMILIES],
    # session and plan preparation (set-up)
    ("session.get_spark_s", "s"),
    ("plans.prepare_s", "s"),
    # the traced run's own end-to-end values; minus the untraced medians
    # they give the tracing overhead
    ("trace.work_s", "s"),
    ("trace.read_s", "s"),
]
