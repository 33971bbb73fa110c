"""Streaming-ingestion throughput bench (BASELINE.md streaming sanity):
convert the sf events table into a Debezium-JSON feed, stream it through
the full CDC pipeline (decode → route → per-table parquet + offset +
status), and report rows/sec + per-trigger commit behavior.

Usage: python tools/bench_streaming.py [sf_dir] [n_files] [n_tables]
Prints one JSON line. n_tables > 1 shards events across that many tables
(round-robin on event_id) to exercise the multi-table write path.

Stateful-sketch mode (r17, VERDICT r16 item 2):

    python tools/bench_streaming.py --stateful [sf_dir] [n_files]

streams the sf documents TOKENS (exploded, (lang, token) rows — the
sketch feeds' real shape) through each stateful operator — dedup / HLL /
CMS / top-k / histogram — one at a time over a fresh file feed, and
prints one JSON line of rows/sec per op (best-of-2; first run pays JVM
warmup, same policy as the pipeline mode). The sink is a foreachBatch
counter: the number measures the OPERATOR (projection + stateful
exchange + Python fold), not a writer.
"""

from __future__ import annotations

import json
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

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stateful_main() -> None:
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from flink_cdc_multi_spark.streaming.stateful import (
        cms_freq_stream,
        dedup_stream,
        hll_distinct_stream,
        histogram_stream,
        minhash_sig_stream,
        outlier_moments_stream,
        topk_freq_stream,
    )

    spark = get_spark("stateful-bench")
    work = tempfile.mkdtemp(prefix="stateful_bench_")
    feed = os.path.join(work, "feed")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (
        docs.filter(F.trim("text") != "")
        .select(
            "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .withColumn("n", F.length("token").cast("bigint"))
    )
    toks.repartition(n_files).write.mode("overwrite").json(feed)
    n_rows = spark.read.json(feed).count()

    ops = {
        # dedup keys on the token content; length() plays the order col
        "dedup": lambda df: dedup_stream(df, ["token"], "n"),
        "hll": lambda df: hll_distinct_stream(df, "lang", "token"),
        "cms": lambda df: cms_freq_stream(df, "lang", "token"),
        "topk": lambda df: topk_freq_stream(df, "lang", "token"),
        "minhash": lambda df: minhash_sig_stream(df, "lang", "token"),
        "histogram": lambda df: histogram_stream(df, "lang", "n"),
        "outliers": lambda df: outlier_moments_stream(df, "lang", "n"),
    }
    out: dict = {
        "metric": "stateful sketch stream rows/sec (per operator)",
        "unit": "rows/sec",
        "input_rows": n_rows,
        "n_files": n_files,
        "sf_dir": sf_dir,
    }
    per_op: dict = {}
    for name, make in ops.items():
        best = None
        for _attempt in range(2):
            ckpt = os.path.join(work, f"ckpt_{name}_{_attempt}")
            stream = (
                spark.readStream.schema("lang string, token string, n long")
                .option("maxFilesPerTrigger", "1")
                .json(feed)
            )
            emitted = []
            q = (
                make(stream)
                .writeStream.foreachBatch(
                    lambda df, b: emitted.append(df.count())
                )
                .outputMode(
                    "append" if name == "dedup" else "update"
                )
                .option("checkpointLocation", ckpt)
                .start()
            )
            t0 = time.perf_counter()
            q.processAllAvailable()
            wall = time.perf_counter() - t0
            q.stop()
            rate = round(n_rows / wall, 1)
            if best is None or rate > best["rows_per_sec"]:
                best = {
                    "rows_per_sec": rate,
                    "wall_sec": round(wall, 2),
                    "emitted_rows": int(sum(emitted)),
                }
        per_op[name] = best
    out["ops"] = per_op
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_tables = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    work = tempfile.mkdtemp(prefix="cdc_stream_bench_")
    feed = os.path.join(work, "feed")
    spark = get_spark("stream-bench")

    # Build the Debezium-JSON feed from the events table (event_id plays
    # the binlog position; n_files files → n_files-ish micro-batches with
    # maxFilesPerTrigger=1).
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_rows = events.count()
    wire = events.select(
        F.to_json(
            F.struct(
                F.lit("c").alias("op"),
                F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
                F.struct(
                    F.col("event_id"),
                    F.col("user_id"),
                    F.col("event_type"),
                    F.col("value"),
                    F.col("props"),
                ).alias("after"),
                F.struct(
                    F.lit("bench").alias("db"),
                    (
                        F.concat(F.lit("events_"), F.col("event_id") % n_tables)
                        if n_tables > 1
                        else F.lit("events")
                    ).alias("table"),
                    F.lit("feed-bin.000001").alias("file"),
                    F.col("event_id").alias("pos"),
                ).alias("source"),
                F.lit("feed-bin.000001").alias("offset_file"),
                F.col("event_id").alias("offset_pos"),
            )
        ).alias("value")
    )
    wire.repartition(n_files).write.mode("overwrite").text(feed)

    cfg = JobConfig.from_dict(
        {
            "source.id": "bench",
            "source.type": "mysql",
            "sink.path": os.path.join(work, "sink"),
            "offset.store.path": os.path.join(work, "store"),
            "status.store.path": os.path.join(work, "store"),
            # 0 = commit per available micro-batch back-to-back (Flink
            # analogue: continuous processing; checkpoints don't throttle).
            # maxFilesPerTrigger=1 still forces n_files separate commits.
            "checkpoint.interval": 0,
        }
    )
    # Best-of-2 (same policy as bench.py): one-shot streaming runs carry
    # ±10% scheduler noise; each attempt gets a fresh sink/store/checkpoint.
    best = None
    for attempt in range(2):
        for sub in ("sink", "store", "ckpt"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        tables = (
            {("bench", f"events_{i}"): EVENTS_SCHEMA for i in range(n_tables)}
            if n_tables > 1
            else {("bench", "events"): EVENTS_SCHEMA}
        )
        registry = TableRegistry.build("mysql", tables)
        pipe = CDCPipeline(cfg, registry)

        t0 = time.perf_counter()
        query = pipe.start(
            spark, feed, os.path.join(work, "ckpt"), max_files_per_trigger=1
        )
        query.processAllAvailable()
        # engine-side per-trigger duration breakdown (ms summed across batches)
        engine_ms: dict = {}
        for p in query.recentProgress:
            for k, v in (p.get("durationMs") or {}).items():
                engine_ms[k] = engine_ms.get(k, 0) + v
        query.stop()
        wall = time.perf_counter() - t0

        sink_dirs = (
            [os.path.join(work, "sink", f"bench_bench__events_{i}") for i in range(n_tables)]
            if n_tables > 1
            else [os.path.join(work, "sink", "bench_bench__events")]
        )
        # read_published resolves BOTH publish modes (rename-promoted dt=
        # layout and manifest-committed batches under SPARK_GRAFT_PUBLISH_MODE)
        from flink_cdc_multi_spark.operators.routing import read_published

        written = sum(read_published(spark, d).count() for d in sink_dirs)
        offset = pipe.offset_store.read()
        result = {
            "metric": "cdc streaming ingest rows/sec (decode+route+parquet+offset+status)",
            "value": round(written / wall, 1),
            "unit": "rows/sec",
            "rows": written,
            "input_rows": n_rows,
            "wall_sec": round(wall, 2),
            "batches": pipe.batches_processed,
            "n_tables": n_tables,
            "stage_seconds": {k: round(v, 3) for k, v in pipe.stage_seconds.items()},
            "engine_ms": engine_ms,
            "final_offset": offset,
            "sf_dir": sf_dir,
        }
        if best is None or result["value"] > best["value"]:
            best = result
    print(json.dumps(best))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--stateful":
        stateful_main()
    else:
        main()
