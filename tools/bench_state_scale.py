"""Streaming state at scale (VERDICT r9 item 5): drive cdc_delta_stream
with 1M+ distinct pks under the RocksDB state store and record per-batch
wall-clock + state-store metrics, proving per-batch work is
O(batch + touched keys), not O(total keys).

    python tools/bench_state_scale.py [n_keys] [n_touch]

Batches (files land one at a time; each drain = one micro-batch):
  b1  n_keys INSERTs (builds the full state)        — O(n_keys), the bar
  b2  n_touch UPDATEs on a key subsample            — must cost << b1
  b3  exact replay of b2 (offsets <= applied)       — must emit 0 deltas
Metrics come from StreamingQueryProgress.stateOperators: numRowsTotal
(state cardinality), numRowsUpdated (touched keys), and the RocksDB
customMetrics (SST file bytes, memory usage, compaction latencies).

The pytest twin (tests/test_stateful_streaming.py::
test_delta_stream_replay_drop_at_scale) pins the replay-drop + touched-
keys-only contract at a CI-sized key count; this tool is the measured
1M-key PERF.md row.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from flink_cdc_multi_spark.session import get_spark  # noqa: E402
from flink_cdc_multi_spark.streaming.stateful import cdc_delta_stream  # noqa: E402

SCHEMA = "pk long, g string, v long, _op string, pos long"


def make_batch(spark, n: int, op: str, pos_base: int, stride: int = 1):
    """n rows over pks {0, stride, 2*stride, ...}; pos = pos_base + pk."""
    return (
        spark.range(n)
        .select(
            (F.col("id") * stride).alias("pk"),
            (F.col("id") % 97).cast("string").alias("g"),
            (F.col("id") % 1000).alias("v"),
            F.lit(op).alias("_op"),
            (F.lit(pos_base) + F.col("id") * stride).alias("pos"),
        )
    )


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_touch = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    work = tempfile.mkdtemp(prefix="state_scale_")
    spark = get_spark("state-scale")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    feed = f"{work}/feed"
    stride = max(1, n_keys // n_touch)
    make_batch(spark, n_keys, "INSERT", 0).coalesce(32).write.parquet(f"{feed}/f1")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "32")
        .parquet(feed + "/*")
    )
    counts: list[int] = []
    q = (
        cdc_delta_stream(stream, "pk", "g", "v", "pos")
        .writeStream.foreachBatch(lambda df, _b: counts.append(df.count()))
        .outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )

    report: dict = {"n_keys": n_keys, "n_touch": n_touch, "batches": []}

    def drain(label: str) -> None:
        t0 = time.perf_counter()
        q.processAllAvailable()
        dt = round(time.perf_counter() - t0, 3)
        ops = (q.lastProgress or {}).get("stateOperators", [])
        so = ops[0] if ops else {}
        cm = so.get("customMetrics", {})
        report["batches"].append(
            {
                "label": label,
                "wall_s": dt,
                "delta_rows": counts[-1] if counts else None,
                "state_rows_total": so.get("numRowsTotal"),
                "state_rows_updated": so.get("numRowsUpdated"),
                "rocksdb_sst_bytes": cm.get("rocksdbSstFileSize"),
                "rocksdb_mem_bytes": cm.get("rocksdbTotalMemoryUsageBytes"),
                "rocksdb_commit_compact_ms": cm.get("rocksdbCommitCompactLatency"),
                "rocksdb_total_compact_ms": cm.get("rocksdbTotalCompactionLatencyMs"),
            }
        )
        print(json.dumps(report["batches"][-1]), flush=True)

    drain("b1_build_state")

    b2 = make_batch(spark, n_touch, "UPDATE", 10 * n_keys, stride).coalesce(1)
    b2.write.parquet(f"{feed}/f2")
    drain("b2_touch_subset")

    # byte-identical replay of b2 at the same offsets: must emit 0 deltas
    spark.read.parquet(f"{feed}/f2").coalesce(1).write.parquet(f"{feed}/f3")
    drain("b3_replay_of_b2")

    q.stop()
    report["delta_counts_per_batch"] = counts
    assert counts[-1] == 0, "replayed batch emitted deltas"
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
