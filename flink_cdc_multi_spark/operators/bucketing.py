"""Bucketed table layout — the shuffle-elimination tool for tables that are
joined or aggregated on the same key over and over (the CDC lake's
materialized tables almost always are: latest-image by primary key,
point-in-time joins by entity key, dedup by digest).

``df.write.bucketBy(N, key)`` hash-partitions rows into N buckets at WRITE
time and records the layout in the catalog. Every later scan then reports
``HashPartitioning(key, N)`` as its output partitioning, so Catalyst drops
the Exchange from:

- ``groupBy(key)`` aggregations (partial+final collapse into one stage),
- joins between two tables bucketed on the same key with the same N
  (sort-merge join with ZERO shuffles; with ``sortBy`` the per-bucket sort
  is pre-paid at write time too),
- ``dropDuplicates([key])``.

At 100 TB this converts the dominant repeated cost (re-shuffling a huge
fact table for every consumer query) into a one-time write-side cost — the
same trade the reference cannot express at all (its sink is plain
path-partitioned parquet; citation: FlinkCDCMulti.java:345-391 writes
per-table dt-partitioned files with no co-location concept).

Bucket-count sizing: pick N ≈ table_bytes / target_partition_bytes (e.g.
256 MB) rounded to a power of two, and keep it IDENTICAL across tables
that join together — mismatched counts fall back to a shuffle on one side.

Join strategy on co-bucketed tables: add a ``shuffle_hash`` hint on the
smaller side. The default sort-merge join is already exchange-free, but
still sorts each bucket at read time; the hint upgrades it to an
exchange-free ZERO-SORT hash join (sf10 q28 measured: SMJ 1.86 s → SHJ
1.25 s → 1.45× DuckDB, from 3.5-4.3× on the unbucketed fixture; PERF.md
r10, pinned in test_bucketing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def bucket_layout(df: DataFrame) -> tuple[list[str], int] | None:
    """(bucket_cols, num_buckets) if every leaf relation of ``df``'s plan
    is a bucketed file scan with the same spec, else None.

    This is how operators make join ORDER partitioning-aware: the r10
    layout experiment (PERF.md "r10 bucketed-layout experiment") measured
    that q27's shipped join order on orderkey-bucketed lineitem is WORSE
    than the unbucketed fixture (4.96 s vs 3.66 s at sf10 — the suppkey
    join shuffles lineitem first and destroys the partitioning before it
    can pay off), while putting the bucket-key join first wins (2.66 s).
    Catalyst reorders joins by size estimates, not by which order
    PRESERVES an input partitioning, so the operator has to ask.

    Walks the analyzed logical plan (py4j), descending ONLY through
    partitioning-preserving single-child nodes (Project/Filter/alias):
    bucket metadata lives on HadoopFsRelation.bucketSpec and survives
    projections and filters above the scan, but a join or aggregate ends
    the claim — the frame is no longer "a scan of the bucketed table",
    and e.g. a groupBy on a DIFFERENT key re-partitions while the leaf
    below it still says bucketed (collectLeaves would false-positive
    there)."""
    node = df._jdf.queryExecution().analyzed()
    passthrough = {"Project", "Filter", "SubqueryAlias"}
    while node.getClass().getSimpleName() in passthrough:
        if node.children().size() != 1:
            return None
        node = node.children().apply(0)
    if node.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = node.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    bs = rel.bucketSpec()
    if not bs.isDefined():
        return None
    spec = bs.get()
    names = spec.bucketColumnNames()
    return ([names.apply(j) for j in range(names.size())], spec.numBuckets())


def is_bucketed_on(df: DataFrame, *cols: str) -> bool:
    """True iff ``df`` is a (projected/filtered) scan of a table bucketed
    exactly on ``cols`` — the precondition for putting the ``cols``-keyed
    join first so the scan side stays exchange-free."""
    layout = bucket_layout(df)
    return layout is not None and layout[0] == list(cols)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as a bucketed (and optionally bucket-sorted) catalog
    table. ``path`` makes it an external table (data at the given
    location); omit it to store under the session warehouse dir."""
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, bucket_cols[0], *bucket_cols[1:])
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return table


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — the bucket layout only reaches the planner through
    ``spark.table``; a direct ``spark.read.parquet`` of the same files
    loses the metadata (and the Exchange elimination)."""
    return spark.table(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Re-attach an EXISTING bucketed parquet directory as an external
    table. The bucket layout lives in catalog metadata, not in the files:
    under the default in-memory catalog a new session (or another
    machine) sees only parquet files, and reading them directly silently
    re-introduces every Exchange the layout was built to eliminate. This
    re-declares the CLUSTERED BY contract over the same data — the caller
    asserts the files were produced by ``write_bucketed`` with the SAME
    cols/count (declaring a wrong layout yields wrong join results, the
    usual external-table bargain). Schema is read from the parquet
    footers."""
    sch = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in sch.fields)
    sort = sort_cols or bucket_cols
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) "
        f"SORTED BY ({', '.join(sort)}) INTO {num_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)
