"""Partitioned JDBC snapshot adapter (reference S1-S3 snapshot phase:
chunked parallel SELECT, split size 4096 / fetch 1024,
java/streamers/MySQLStreamer.java:200-201, 306-308).

Spark-native: ``spark.read.jdbc`` with numPartitions/bounds IS the chunked
snapshot — each partition becomes one bounded SELECT pushed to the source,
executed by a different task (the reference's split/fetch machinery is a
hand-rolled version of exactly this). Bounds are discovered with one
MIN/MAX/COUNT pushdown query.

No database ships in this container, so everything network-facing is gated;
the pure logic (split planning, option construction, type-map application)
is unit-tested, and ``snapshot_to_envelope`` turns any batch DataFrame into
snapshot READ envelope rows for the pipeline (used by tests via parquet
stand-ins).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_multi_spark.envelope import OP_READ
from flink_cdc_multi_spark.functions.sanitizer import sanitize

DEFAULT_SPLIT_SIZE = 4096  # rows per chunk (mysql.split.size default)
DEFAULT_FETCH_SIZE = 1024  # JDBC fetch size (mysql.fetch.size default)
DISTRIBUTION_FACTOR_UPPER = 10  # MySQLStreamer.java:306


@dataclass(frozen=True)
class SplitPlan:
    lower: int
    upper: int
    num_partitions: int

    @property
    def rows_per_partition_bound(self) -> float:
        return (self.upper - self.lower + 1) / max(1, self.num_partitions)


def plan_splits(
    min_key: int,
    max_key: int,
    row_count: int,
    split_size: int = DEFAULT_SPLIT_SIZE,
    max_partitions: int | None = None,
) -> SplitPlan:
    """Choose numPartitions so each chunk targets ~split_size rows, guarded
    by the reference's distribution-factor heuristic: when the key space is
    > 10× sparser than the row count (heavily non-uniform keys), fall back
    to row-count-based splitting so chunks stay balanced."""
    if row_count <= 0:
        return SplitPlan(min_key, max_key, 1)
    span = max_key - min_key + 1
    distribution_factor = span / row_count
    parts = max(1, -(-row_count // split_size))  # ceil
    if distribution_factor > DISTRIBUTION_FACTOR_UPPER:
        # sparse keys: cap partitions to keep per-chunk row estimates sane
        parts = max(1, min(parts, -(-span // (split_size * DISTRIBUTION_FACTOR_UPPER))))
    if max_partitions:
        parts = min(parts, max_partitions)
    return SplitPlan(min_key, max_key, parts)


def jdbc_options(
    url: str,
    table: str,
    user: str,
    password: str,
    partition_column: str | None,
    plan: SplitPlan | None,
    fetch_size: int = DEFAULT_FETCH_SIZE,
) -> dict[str, str]:
    opts = {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "fetchsize": str(fetch_size),
    }
    if partition_column and plan and plan.num_partitions > 1:
        opts.update(
            {
                "partitionColumn": partition_column,
                "lowerBound": str(plan.lower),
                "upperBound": str(plan.upper),
                "numPartitions": str(plan.num_partitions),
            }
        )
    return opts


def discover_bounds(
    spark: SparkSession, url: str, table: str, key: str, user: str, password: str
) -> tuple[int, int, int]:
    """One pushdown query for (min, max, count) — the split planner's input."""
    probe = (
        spark.read.format("jdbc")
        .options(
            url=url,
            user=user,
            password=password,
            dbtable=f"(SELECT MIN({key}) mn, MAX({key}) mx, COUNT(*) cnt FROM {table}) b",
        )
        .load()
        .first()
    )
    return int(probe["mn"]), int(probe["mx"]), int(probe["cnt"])


def snapshot_to_envelope(df: DataFrame, db: str, table: str, ts_ms: int) -> DataFrame:
    """Batch rows → snapshot READ envelope rows (payload as JSON string, the
    same wire shape the streaming decoder produces), so the routing/sink
    path is shared between snapshot and incremental phases."""
    return df.select(
        F.lit(sanitize(db)).alias("_db"),
        F.lit(sanitize(table)).alias("_tbl"),
        F.lit(db).alias("_database"),
        F.lit(OP_READ).alias("_op"),
        F.lit(ts_ms).cast("long").alias("_ts"),
        F.lit(None).cast("string").alias("_ddl"),
        F.lit(None).cast("string").alias("_ddl_tbl"),
        F.to_json(F.struct(*df.columns)).alias("payload"),
        F.lit(True).alias("_snapshotting"),
        F.lit(None).cast("string").alias("_binlog_file"),
        F.lit(None).cast("long").alias("_binlog_pos_end"),
        F.lit(None).cast("string").alias("_binlog_file_internal"),
        F.lit(None).cast("long").alias("_binlog_pos_internal"),
    )
