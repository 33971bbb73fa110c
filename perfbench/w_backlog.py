"""``cdc_backlog``: closed-loop drain of a seeded multi-table backlog.

One client (the pipeline) drains a pre-written backlog as fast as it can:
inserts over every table, then updates and deletes of earlier keys, in
files of equal size read ``max_files_per_trigger`` at a time. With
``streaming.onepass.max.tables: 0`` every batch takes the general path:
persist, one summary job, one publish job per table, offset and status
files, and maintenance compaction of the keyed tables every
``compact.every.n.batches`` batches.

Timed: a fixed number of cycles, each a drain from ``CDCPipeline.start``
until ``processAllAvailable`` returns, on a fresh sink, store and
checkpoint, followed by a read of every table's latest image of that
drain through ``read_published`` and ``latest_image`` into the noop sink,
one table at a time. ``work_s`` is the fastest drain and ``read_s`` the
sum over tables of each table's fastest read: other tenants of a shared
host only ever add time, and the cycles spread the samples over the
whole timed region. Checked after the cycles, for every
drain: the stored offset is the last generated position, and every table
compaction never folds holds each generated event exactly once; for the
last drain, every table's latest image equals the reference image the
generator kept, row for row. A traced run adds two drains on the default
onepass path after the timed region, for the onepass stage figure, and
checks them the same way (latest images of the second).
"""

from __future__ import annotations

import os
import time
from collections import Counter
from functools import reduce

from common import (
    MemorySampler, Tracer, job_count, median, progress_listener, quantile,
    result, spark_conf, wait_progress, zero_layers,
)

# warm-up sized from probes on a 4-core host: the first drain of a fresh
# JVM takes 13-16 s and its first read 2.5-3 s against 3.5-5 s and 1.6-2 s
# later, so one untimed drain and read precede timing
FULL = dict(tables=8, keyed=2, compact_every=2, inserts=4000, changes=2000,
            files=6, files_per_trigger=3)
TINY = dict(tables=3, keyed=1, compact_every=2, inserts=300, changes=150,
            files=4, files_per_trigger=2)
# seconds a warm drain and read of FULL take on a 4-core host; sets the
# cycle count
CYCLE_S = 6.0


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("note", T.StringType()),
    ])


class Drain:
    """One pipeline over one feed, with its own sink, store and checkpoint."""

    def __init__(self, base: str, feed: str, p: dict, general: bool = True):
        from flink_cdc_multi_spark.catalog import TableRegistry
        from flink_cdc_multi_spark.config import JobConfig
        from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline

        import cdcgen

        self.base, self.feed = base, feed
        names = cdcgen.table_names(p["tables"])
        cfg = JobConfig.from_dict({
            "source.id": "bench",
            "source.type": "mysql",
            "sink.path": os.path.join(base, "sink"),
            "offset.store.path": os.path.join(base, "store"),
            "status.store.path": os.path.join(base, "store"),
            "checkpoint.interval": 0,
            "table.key.columns": {f"{cdcgen.DB}.{t}": ["id"]
                                  for t in names[: p["keyed"]]},
            "compact.every.n.batches": p["compact_every"],
            # 0 = every batch takes the general path whatever the table
            # count; the default (16) sends these few tables down onepass
            **({"streaming.onepass.max.tables": 0} if general else {}),
        })
        registry = TableRegistry.build(
            "mysql", {(cdcgen.DB, t): _schema() for t in names})
        self.pipe = CDCPipeline(cfg, registry)
        self.tables = names
        self.keyed = names[: p["keyed"]]

    def table_path(self, table: str) -> str:
        return os.path.join(self.base, "sink", f"bench_bench__{table}")

    def start(self, spark, files_per_trigger: int):
        return self.pipe.start(spark, self.feed, os.path.join(self.base, "ckpt"),
                               max_files_per_trigger=files_per_trigger)


def _published(spark, drain: Drain, tracer: Tracer) -> dict:
    """Each table's published change rows."""
    from flink_cdc_multi_spark.operators import routing

    return {t: tracer.span("routing.read_published", routing.read_published,
                           spark, drain.table_path(t))
            for t in drain.tables}


def _latest_images(drain: Drain, changes: dict, tracer: Tracer) -> dict:
    from flink_cdc_multi_spark.operators import cdc

    order = drain.pipe.compaction_order_cols()
    return {t: tracer.span("cdc.latest_image", cdc.latest_image, df, ["id"], order)
            for t, df in changes.items()}


def _read_table(spark, drain: Drain, table: str, tracer: Tracer) -> float:
    """Seconds to read one table's latest image through ``read_published``
    and ``latest_image`` into the noop sink."""
    from flink_cdc_multi_spark.operators import cdc, routing

    t0 = time.perf_counter()
    changes = tracer.span("routing.read_published", routing.read_published,
                          spark, drain.table_path(table))
    image = tracer.span("cdc.latest_image", cdc.latest_image, changes, ["id"],
                        drain.pipe.compaction_order_cols())
    image.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _collect(dfs: dict, cols: list[str]) -> dict:
    """Rows of each DataFrame in ``dfs`` as a multiset of ``cols`` tuples,
    in one job over their union."""
    from pyspark.sql import functions as F

    keys = list(dfs)
    tagged = [df.select(F.lit(i).alias("_part"), *cols)
              for i, df in enumerate(dfs.values())]
    out: dict = {k: Counter() for k in keys}
    for r in reduce(lambda a, b: a.unionAll(b), tagged).collect():
        out[keys[r[0]]][tuple(r[1:])] += 1
    return out


def _check(spark, drains: list[Drain], image_drains: list[Drain], ref) -> tuple[int, int]:
    """(attempted, failed) checks of finished drains: each drain's stored
    offset is the last generated position; each drain publishes every
    event of each table compaction never folds exactly once (the multiset
    of (key, binlog position) equals the generated events, one job for all
    drains); each table's latest image in ``image_drains`` equals the
    reference, row for row."""
    import cdcgen

    off = Tracer(False, "")
    failed = sum(d.pipe.offset_store.read() != f"{cdcgen.BINLOG},{ref.pos}"
                 for d in drains)
    changes = {id(d): _published(spark, d, off) for d in drains + image_drains}
    logged = {(id(d), t): changes[id(d)][t]
              for d in drains for t in d.tables if t not in d.keyed}
    published = _collect(logged, ["id", "_binlog_pos_internal"])
    failed += sum(got != Counter(ref.log[t]) for (_d, t), got in published.items())
    images = {(id(d), t): df for d in image_drains
              for t, df in _latest_images(d, changes[id(d)], off).items()}
    got_images = _collect(images, ["id", "grp", "amount", "note"])
    failed += sum(got != Counter(ref.live[t].values())
                  for (_d, t), got in got_images.items())
    return len(drains) + len(logged) + len(images), failed


def _sink_files(drain: Drain) -> tuple[int, int]:
    """Parquet files and bytes a reader of the sink sees (hidden staging
    and marker directories excluded)."""
    files = size = 0
    root = os.path.join(drain.base, "sink")
    for dirpath, _dirs, names in os.walk(root):
        if "/." in dirpath[len(root):]:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(seed: int, seconds: float, trace: bool, work: str, smoke: bool) -> dict:
    t_setup = time.perf_counter()
    from flink_cdc_multi_spark.session import get_spark

    import cdcgen

    p = TINY if smoke else FULL
    t_gs = time.perf_counter()
    spark = get_spark("perfbench-cdc_backlog", extra_conf=spark_conf(work))
    get_spark_s = time.perf_counter() - t_gs
    tracer = Tracer(trace, f"cdc_backlog-{seed}")
    progress, listener = progress_listener(spark)

    feed = os.path.join(work, "feed")
    ref = cdcgen.write_backlog(feed, seed, p["tables"], p["inserts"], p["changes"],
                               p["files"], 1_700_000_000_000)
    n_events = p["inserts"] + p["changes"]

    # the warm-up drain and read: the JVM, codegen, the parquet writers and
    # readers warm on every table before timing, on a throwaway sink
    warm = Drain(os.path.join(work, "warm"), feed, p)
    q = warm.start(spark, p["files_per_trigger"])
    setup_s = time.perf_counter() - t_setup
    q.processAllAvailable()
    q.stop()
    for t in warm.tables:
        _read_table(spark, warm, t, Tracer(False, ""))
    warm_s = time.perf_counter() - t_setup - setup_s

    import flink_cdc_multi_spark.operators.routing as routing
    import flink_cdc_multi_spark.streaming.pipeline as pipeline

    tracer.wrap(pipeline, "route_batch", "routing.route_batch", fan_out=True)
    tracer.wrap(routing, "publish_batch_parquet", "routing.publish_batch_parquet")
    drains: list[float] = []
    reads: dict[str, list[float]] = {}
    done: list[Drain] = []
    stage: dict[str, float] = {}
    timed_ids: set[str] = set()
    jobs = 0
    # a fixed number of cycles, set from the run's seconds: the JVM is
    # still speeding up after the warm-up, so a count that depended on
    # elapsed time would move the figures along that curve
    n_cycles = max(2, round(seconds / CYCLE_S))
    with MemorySampler() as mem:
        while len(drains) < n_cycles:
            d = Drain(os.path.join(work, f"drain{len(drains)}"), feed, p)
            tracer.wrap(d.pipe, "process_batch", "pipeline.process_batch")
            tracer.wrap(d.pipe, "run_compaction", "cdc.run_compaction")
            jobs0 = job_count(spark)
            t0 = time.perf_counter()
            q = d.start(spark, p["files_per_trigger"])
            timed_ids.add(str(q.id))
            q.processAllAvailable()
            drains.append(time.perf_counter() - t0)
            q.stop()
            jobs += job_count(spark) - jobs0
            for k, v in d.pipe.stage_seconds.items():
                stage[k] = stage.get(k, 0.0) + v
            done.append(d)

            for t in d.tables:
                reads.setdefault(t, []).append(_read_table(spark, d, t, tracer))
        batch_progress = wait_progress(progress, timed_ids, n_cycles * n_events)
        last = done[-1]
        files, size = _sink_files(last)
    tracer.restore()
    spark.streams.removeListener(listener)
    t_check = time.perf_counter()
    attempted, failed = _check(spark, done, [last], ref)
    check_s = time.perf_counter() - t_check

    onepass_s = 0.0
    if trace:
        # the default selector sends 8 tables down the one-job onepass
        # path; the first drain warms it, the second is reported
        onepass = []
        for i in range(2):
            d = Drain(os.path.join(work, f"onepass{i}"), feed, p, general=False)
            q = d.start(spark, p["files_per_trigger"])
            q.processAllAvailable()
            q.stop()
            onepass_s = d.pipe.stage_seconds.get("onepass_write", 0.0)
            onepass.append(d)
        a, f = _check(spark, onepass, [onepass[-1]], ref)
        attempted += a
        failed += f

    n = len(drains)
    # each table's fastest read, summed: a slow read of one table in one
    # cycle and of another in the next are both left out
    read_s = sum(min(ts) for ts in reads.values())
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "work_s": (min(drains), "s"),
            "read_s": (read_s, "s"),
            "peak_pss_mb": (mem.peak_mb, "MB"),
        }
    else:
        batch_spans = [s for s in tracer.spans if s["name"] == "pipeline.process_batch"]
        batch_s = [s["end"] - s["start"] for s in batch_spans]
        dur = _durations(batch_progress)
        metrics = zero_layers()
        metrics.update({
            "sources.latest_offset_s": (dur("latestOffset") / n, "s"),
            "sources.get_batch_s": (dur("getBatch") / n, "s"),
            "sources.input_rows": (sum(e["rows"] for e in batch_progress) / n, "count"),
            "pipeline.batches": (len(batch_s) / n, "count"),
            "pipeline.rows_per_batch_p50": (median([e["rows"] for e in batch_progress]), "count"),
            "pipeline.batch_p50_s": (quantile(batch_s, 0.5), "s"),
            "pipeline.batch_p90_s": (quantile(batch_s, 0.9), "s"),
            "pipeline.jobs_per_batch": (jobs / max(1, len(batch_s)), "count"),
            "pipeline.trigger_s": (dur("triggerExecution") / n, "s"),
            "pipeline.query_planning_s": (dur("queryPlanning") / n, "s"),
            "pipeline.wal_commit_s": (dur("walCommit") / n, "s"),
            "pipeline.commit_offsets_s": (dur("commitOffsets") / n, "s"),
            "pipeline.stage.onepass_write_s": (onepass_s, "s"),
            "pipeline.stage.summary_s": (stage.get("summary", 0.0) / n, "s"),
            "pipeline.stage.route_write_s": (stage.get("route_write", 0.0) / n, "s"),
            "pipeline.stage.offset_status_ctl_s": (stage.get("offset_status_ctl", 0.0) / n, "s"),
            "routing.publish_s": (tracer.total("routing.publish_batch_parquet") / n, "s"),
            "routing.publish_calls": (tracer.count("routing.publish_batch_parquet") / n, "count"),
            "routing.files_written": (files, "count"),
            "routing.bytes_written": (size, "B"),
            "routing.read_published_s": (tracer.total("routing.read_published") / n, "s"),
            "cdc.compactions": (tracer.count("cdc.run_compaction") / n, "count"),
            "cdc.compact_s": (tracer.total("cdc.run_compaction") / n, "s"),
            "cdc.latest_image_s": (tracer.total("cdc.latest_image") / n, "s"),
            "session.get_spark_s": (get_spark_s, "s"),
            "trace.work_s": (min(drains), "s"),
            "trace.read_s": (read_s, "s"),
        })
        tracer.write(os.path.join(os.getcwd(), ".perfbench_out",
                                  f"spans-cdc_backlog-{seed}.json"))
    spark.stop()
    return result(metrics, attempted, failed, {
        "warm_s": warm_s, "drains_s": drains, "reads_s": reads, "check_s": check_s,
        "rows_per_s": n_events / min(drains)})


def _durations(events: list[dict]):
    def total(key: str) -> float:
        return sum(e["duration_ms"].get(key, 0) for e in events) / 1000.0
    return total
