"""Count Spark JOBS per streaming micro-batch: at streaming cadence the
per-job floor dominates, so the lever is job count, not per-row cost.

Wraps CDCPipeline.process_batch with a counter over the DAG scheduler's
global job id and streams a small Debezium feed through the shipped
pipeline, spreading events round-robin over n_tables tables, then prints
jobs-per-batch and the pipeline's stage_seconds breakdown. Every table
is active in every batch, so the expected count is n_tables (one publish
job per active table; the control plane rides the first).

    python tools/opt_r18_stream_jobs.py [n_files] [n_tables]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from flink_cdc_multi_spark.catalog import TableRegistry  # noqa: E402
from flink_cdc_multi_spark.config import JobConfig  # noqa: E402
from flink_cdc_multi_spark.session import get_spark  # noqa: E402
from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline  # noqa: E402

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_tables = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = "/root/testdata/sf0.1"

    work = tempfile.mkdtemp(prefix="stream_jobs_")
    feed = os.path.join(work, "feed")
    spark = get_spark("stream-jobs-probe")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(20000)
    wire = events.select(
        F.to_json(F.struct(
            F.lit("c").alias("op"),
            F.lit(1700000000000).alias("ts_ms"),
            F.struct("event_id", "user_id", "event_type", "value",
                     "props").alias("after"),
            F.struct(
                F.lit("bench").alias("db"),
                (F.concat(F.lit("events_"), F.col("event_id") % n_tables)
                 if n_tables > 1 else F.lit("events")).alias("table"),
                F.lit("feed-bin.000001").alias("file"),
                F.col("event_id").alias("pos"),
            ).alias("source"),
            F.lit("feed-bin.000001").alias("offset_file"),
            F.col("event_id").alias("offset_pos"),
        )).alias("value")
    )
    wire.repartition(n_files).write.mode("overwrite").text(feed)

    counts: list[tuple[int, int]] = []
    orig = CDCPipeline.process_batch

    def wrapped(self, env, bid):
        # count via the GLOBAL job-id counter: route_batch submits
        # writes from pool threads, which don't inherit a job group —
        # the group-scoped count is blind there
        sc = env.sparkSession.sparkContext
        j0 = sc._jsc.sc().dagScheduler().nextJobId()
        t0 = time.perf_counter()
        try:
            orig(self, env, bid)
        finally:
            j1 = sc._jsc.sc().dagScheduler().nextJobId()
            counts.append((bid, j1 - j0, round(time.perf_counter() - t0, 3)))

    CDCPipeline.process_batch = wrapped

    tables = (
        {("bench", f"events_{i}"): EVENTS_SCHEMA for i in range(n_tables)}
        if n_tables > 1 else {("bench", "events"): EVENTS_SCHEMA}
    )
    cfg = JobConfig.from_dict({
        "source.id": "bench",
        "source.type": "mysql",
        "sink.path": os.path.join(work, "sink"),
        "offset.store.path": os.path.join(work, "store"),
        "status.store.path": os.path.join(work, "store"),
        "checkpoint.interval": 0,
    })
    registry = TableRegistry.build("mysql", tables)
    pipe = CDCPipeline(cfg, registry)
    q = pipe.start(spark, feed, os.path.join(work, "ckpt"),
                   max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    print("jobs per batch (batch_id, n_jobs, sec):", counts)
    print("stage_seconds:", {k: round(v, 3)
                             for k, v in pipe.stage_seconds.items()})
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
