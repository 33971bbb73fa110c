"""Demo driver: run the CDC pipeline like the reference job — a config, a
Debezium-JSON feed (snapshot + incremental + DDL across two tables), stream
it to per-table parquet, print the materialized state, offset, status.

Usage: python tools/demo_cdc.py [workdir]
Run twice with the same workdir to exercise offset-file resume.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from flink_cdc_multi_spark.catalog import TableRegistry  # noqa: E402
from flink_cdc_multi_spark.config import JobConfig  # noqa: E402
from flink_cdc_multi_spark.session import get_spark  # noqa: E402
from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline  # noqa: E402


def make_feed(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    lines = []

    def row(op, table, before=None, after=None, pos=0, ts=1700000000000, snap="false"):
        lines.append(
            json.dumps(
                {
                    "op": op,
                    "ts_ms": ts,
                    "before": before,
                    "after": after,
                    "source": {
                        "db": "shop",
                        "table": table,
                        "file": "mysql-bin.000007",
                        "pos": pos,
                        "snapshot": snap,
                    },
                    "offset_file": "mysql-bin.000007",
                    "offset_pos": pos,
                }
            )
        )

    # snapshot phase
    for i in range(1, 6):
        row("r", "users", after={"id": i, "name": f"user-{i}"}, pos=0, snap="true")
    for i in range(1, 4):
        row("r", "orders", after={"id": i, "user_id": i, "total": 10.0 * i}, pos=0, snap="true")
    # incremental phase
    row("c", "users", after={"id": 6, "name": "user-6"}, pos=1000, ts=1700000001000)
    row("u", "users", before={"id": 1, "name": "user-1"},
        after={"id": 1, "name": "user-1-renamed"}, pos=1100, ts=1700000002000)
    row("d", "orders", before={"id": 2, "user_id": 2, "total": 20.0}, pos=1200,
        ts=1700000003000)
    # non-structural DDL (must NOT stop the job)
    lines.append(
        json.dumps(
            {
                "ddl": "CREATE INDEX idx_name ON users (name)",
                "ts_ms": 1700000004000,
                "source": {"db": "shop", "table": "users", "file": "mysql-bin.000007",
                            "pos": 1300},
                "offset_file": "mysql-bin.000007",
                "offset_pos": 1300,
            }
        )
    )
    row("c", "orders", after={"id": 4, "user_id": 1, "total": 99.9}, pos=1400,
        ts=1700000005000)
    with open(os.path.join(path, "feed-0001.json"), "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/cdc_demo"
    feed_dir = os.path.join(work, "feed")
    first_run = not os.path.exists(feed_dir)
    if first_run:
        make_feed(feed_dir)

    cfg = JobConfig.from_dict(
        {
            "source.id": "shopsrc",
            "source.type": "mysql",
            "sink.path": os.path.join(work, "ods"),
            "offset.store.path": os.path.join(work, "offsets"),
            "status.store.path": os.path.join(work, "status"),
            "checkpoint.interval": 1,
            "source.table.list": "shop.users,shop.orders",
        }
    )
    registry = TableRegistry.build(
        "mysql",
        {
            ("shop", "users"): T.StructType(
                [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
            ),
            ("shop", "orders"): T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("user_id", T.LongType()),
                    T.StructField("total", T.DoubleType()),
                ]
            ),
        },
    )

    spark = get_spark("cdc-demo", master="local[4]", shuffle_partitions=4)
    pipe = CDCPipeline(cfg, registry)
    stored = pipe.offset_store.read()
    print(f"== run (resume offset: {stored}) ==")
    query = pipe.start(spark, feed_dir, os.path.join(work, "ckpt"))
    query.processAllAvailable()
    query.stop()

    for tbl in ("users", "orders"):
        path = os.path.join(work, "ods", f"shopsrc_shop__{tbl}")
        df = spark.read.parquet(path)
        print(f"-- {tbl}: {df.count()} change rows; latest state:")
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(
            F.col("_binlog_pos_internal").desc_nulls_last()
        )
        df.withColumn("rn", F.row_number().over(w)).filter("rn=1").filter(
            "_op <> 'DELETE'"
        ).drop("rn").orderBy("id").show(truncate=False)

    ddl_path = os.path.join(work, "ods", "shopsrc_shop___shop_ddl")
    if os.path.exists(ddl_path):
        print("-- ddl table:")
        spark.read.parquet(ddl_path).show(truncate=False)

    print("offset file:", pipe.offset_store.read())
    with open(os.path.join(work, "status", "shopsrc_status.json")) as f:
        print("status:", f.read())
    print("stop requested:", pipe.controller.stop_requested)

    demo_polling_delete(spark, work)


def demo_polling_delete(spark, work: str) -> None:
    """Polling leg (r12): snapshot-diff delete detection feeding
    latest_image — a row deleted from the live table between polls emits
    a DELETE envelope carrying its last-seen watermark, and the
    materialized state retracts it."""
    from datetime import datetime, timezone

    from flink_cdc_multi_spark.operators.cdc import latest_image
    from flink_cdc_multi_spark.sources.polling import run_polling

    print("\n== polling leg (snapshot-diff deletes → latest_image) ==")
    pwork = os.path.join(work, "polling")
    live = os.path.join(pwork, "live", "inv.stock")

    def ts(s):
        return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("updated_at", T.TimestampType()),
            T.StructField("qty", T.LongType()),
        ]
    )
    cfg = JobConfig.from_dict(
        {
            "source.id": "pollsrc",
            "source.type": "mysql",
            "sink.path": os.path.join(pwork, "ods"),
            "offset.store.path": os.path.join(pwork, "offsets"),
            "source.table.list": "inv.stock",
            "incremental.mode": "polling",
            "polling.watermark.column": "updated_at",
            "polling.key.column": "id",
            "polling.standin.path": os.path.join(pwork, "live"),
            "polling.interval.s": 0,
            "polling.delete.detection": "snapshot-diff",
        }
    )
    registry = TableRegistry.build("mysql", {("inv", "stock"): schema})
    base = [
        (1, ts("2024-01-01 10:00:00"), 5),
        (2, ts("2024-01-01 11:00:00"), 7),
        (3, ts("2024-01-01 12:00:00"), 9),
    ]
    first = not os.path.exists(live)
    if first:
        spark.createDataFrame(base, schema).write.mode("overwrite").parquet(live)
    run_polling(spark, cfg, CDCPipeline(cfg, registry), max_polls=1, interval_s=0)
    # row 2 deleted + row 4 inserted between polls
    if first:
        spark.createDataFrame(
            [base[0], base[2], (4, ts("2024-01-02 09:00:00"), 2)], schema
        ).write.mode("overwrite").parquet(live)
    run_polling(spark, cfg, CDCPipeline(cfg, registry), max_polls=1, interval_s=0)

    changes = spark.read.parquet(os.path.join(pwork, "ods", "pollsrc_inv__stock"))
    print("-- change log (note the DELETE's last-seen updated_at):")
    changes.orderBy("_ts", "id").show(truncate=False)
    print("-- latest_image (id 2 retracted, id 4 present):")
    latest_image(changes, ["id"], ["_ts"]).orderBy("id").show(truncate=False)


if __name__ == "__main__":
    main()
