"""CDC table materialization & maintenance — the consumer-side half of the
engine: turn an append-only change log (what the router writes) into the
current table state, and compact change-log tables in place.

This is the q07 semantic as a reusable operator (SURVEY.md §7.3): latest
row per key by the monotone offset ordering, DELETEs dropped. Because the
reduction is over the offset columns it is order- and duplicate-insensitive,
which is exactly what makes the at-least-once resume contract
(README.md:212-218) safe downstream.

Scale: one hash shuffle on the key columns with map-side partial
max_by reduction (no per-key sort, skew-safe). Compaction rewrites per
dt-partition output with AQE-coalesced files — the antidote to
micro-batch small-file buildup.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_cdc_multi_spark.envelope import OP_DELETE

LOG = logging.getLogger(__name__)


def latest_image(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    drop_deletes: bool = True,
) -> DataFrame:
    """Current state of a table from its change log.

    order_cols: monotone per-source offset columns (names or Column
    expressions), e.g. ['_binlog_file_internal', '_binlog_pos_internal']
    (MySQL), ['_lsn'], ['_scn']. Mongo's ``_txn_op_index`` is carried as a
    STRING in the envelope, so it must be cast for ordering —
    ``['_ts', F.col('_txn_op_index').cast('int')]`` — otherwise the
    comparison is lexicographic ('10' < '2') and the wrong image wins for
    multi-op transactions past op index 9. Ties (replayed duplicates) are
    broken arbitrarily but the rows are identical by construction, so the
    result is stable.

    Scale: implemented as a groupBy + ``max_by(payload, offset-struct)``
    REDUCTION, not a row_number window. Partial (map-side) aggregation
    collapses each input partition's rows per key to ONE candidate before
    the shuffle, so a hot key ships |map partitions| candidates instead of
    its entire change history, and no per-key sort happens anywhere — the
    window form sorts every key group and is exactly the plan that dies on
    a skewed CDC table at 100 TB (the associative reduce needs no salting:
    partial agg IS the skew mitigation). Struct comparison is
    lexicographic over the order columns with null fields ordered first,
    matching the window form's desc_nulls_last.
    """
    ord_struct = F.struct(
        *[(F.col(c) if isinstance(c, str) else c) for c in order_cols]
    )
    payload = F.struct(*[F.col(c) for c in changes.columns])
    latest = (
        changes.groupBy(*key_cols)
        .agg(F.max_by(payload, ord_struct).alias("__p"))
        .select("__p.*")
    )
    if drop_deletes:
        latest = latest.filter(F.col("_op") != OP_DELETE)
    return latest


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for any supported scheme — file://, hdfs://,
    s3a://. The storage abstraction the reference gets from Flink's
    FileSystem (SingleFileSinkFunction.java:31-39)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def recover_compact_swap(spark, table_path: str) -> str | None:
    """Self-heal leftover state from a crash inside compact_table's swap.

    Returns what was done: 'restored' (live table was missing, original
    renamed back from `__old`), 'cleaned' (stale `__old`/`__compact`
    leftovers deleted next to a healthy live table), or None (nothing to
    do). Compaction is idempotent, so after a restore it simply re-runs.
    """
    fs, live = _hadoop_fs(spark, table_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    old = jpath(f"{table_path}__old")
    tmp = jpath(f"{table_path}__compact")
    if fs.exists(live):
        cleaned = False
        for p in (old, tmp):
            if fs.exists(p):
                fs.delete(p, True)
                cleaned = True
        return "cleaned" if cleaned else None
    if fs.exists(old):
        if not fs.rename(old, live):
            raise IOError(f"compact recovery: rename {table_path}__old back failed")
        if fs.exists(tmp):
            fs.delete(tmp, True)
        return "restored"
    return None


def compact_table(
    spark,
    table_path: str,
    key_cols: list[str],
    order_cols: list[str],
    max_records_per_file: int = 5_000_000,
    target_partition_bytes: int = 128 << 20,
    drop_deletes: bool = True,
    zorder_by: list[str] | None = None,
    zorder_buckets: int = 64,
) -> int:
    """Rewrite a change-log table as its materialized state, dt-partitioned,
    coalescing the micro-batch small files. Returns the row count of the
    compacted table, taken from the write job's observed metrics — no
    second read of the output.

    Parallelism scales with the table: the rewrite shuffles on
    ``(dt, *key_cols)`` into ``ceil(input_bytes / target_partition_bytes)``
    partitions (so a 1 TB table compacts with ~8k tasks at the default
    128 MB, never through one writer), and ``maxRecordsPerFile`` bounds the
    size of each output file regardless of task count.

    Swap is via the Hadoop FileSystem API so any scheme works (local/HDFS/
    S3; a real deployment on a table format would use MERGE; plain parquet
    gets swap-by-rename): write to `<path>__compact`, rename the live table
    aside to `<path>__old`, rename the compacted output into place, then
    delete the old copy. Between the two renames there IS a window where
    the table path does not exist: a crash there leaves the original intact
    at `__old`, and the `recover_compact_swap` pass that runs at the start
    of every compaction (and can be called at process startup) renames it
    back automatically. Concurrent readers of a table being compacted must
    tolerate a transient missing-path error — the same contract as Hive
    INSERT OVERWRITE on plain parquet.

    ``drop_deletes=False`` keeps each deleted key's latest image as a
    TOMBSTONE row (``_op == DELETE``) — required when the compacted
    output seeds ``maintain_group_agg``'s ``prev_state``, whose
    stale-redelivery guard needs the deleted key's applied offset.
    The default (True) produces the live table; dropping tombstones is
    safe only once redeliveries at or below their offsets can no longer
    occur (i.e., below the stored resume offset).
    """
    import math

    from pyspark.sql import Observation

    recover_compact_swap(spark, table_path)

    fs, live = _hadoop_fs(spark, table_path)
    input_bytes = int(fs.getContentSummary(live).getLength())
    num_partitions = max(1, math.ceil(input_bytes / target_partition_bytes))

    # mergeSchema: a sink dir can hold mixed-vintage files (e.g. the same
    # table written first by the file feed, later by the Kafka leg which
    # adds _kafka_* coordinate columns). A single-footer read would pick
    # one schema and a compaction rewrite would then DELETE the columns
    # the other vintage carried; the union keeps every column (absent ->
    # null) across transport switches. read_published (r15) additionally
    # resolves manifest-committed batches (object-store publish mode) —
    # they're hidden from a plain dir read, and compacting without them
    # would DROP their rows when the swap discards the manifests. The
    # swap's whole-dir rename folds manifests+batches into the flat
    # layout, which is exactly right: the compacted output IS their
    # materialized state.
    from flink_cdc_multi_spark.operators.routing import read_published

    df = read_published(spark, table_path)
    obs = Observation()
    state = latest_image(df, key_cols, order_cols, drop_deletes=drop_deletes).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    if zorder_by and not set(zorder_by) <= set(df.columns):
        # the option is one global pair across heterogeneous tables —
        # a table without the columns keeps the plain key layout
        LOG.warning(
            "compact %s: zorder columns %s not all present; plain layout",
            table_path, zorder_by,
        )
        zorder_by = None
    if zorder_by:
        # presence is not enough (ADVICE r16): a present-but-non-numeric
        # column (varchar PK, timestamp) passes the name check and then
        # crashes INSIDE the write job's _zkey_pandas_udf
        # (to_numpy(dtype=float) on strings), failing the whole
        # maintenance run — degrade to the plain key layout instead,
        # same contract as the missing-column case
        from pyspark.sql.types import NumericType

        types = {f.name: f.dataType for f in df.schema.fields}
        bad = [c for c in zorder_by if not isinstance(types[c], NumericType)]
        if bad:
            LOG.warning(
                "compact %s: zorder columns %s are non-numeric (%s); "
                "plain layout",
                table_path, bad, [str(types[c]) for c in bad],
            )
            zorder_by = None
    if zorder_by:
        # Z-order the compacted output WITHIN each dt partition (r16 —
        # what Delta's OPTIMIZE ZORDER BY does on compaction): quantile
        # boundaries come from the RAW change log (scan-only; the
        # materialized state's quantiles would cost a second full
        # latest_image shuffle, and boundary placement only affects
        # bucket BALANCE, never correctness), the key itself from the
        # vectorized layout kernel. Files then carry tight min/max
        # rectangles in both columns — stats-aware readers prune scans
        # on either (operators/layout.py; sf10 evidence in PERF.md r16).
        from flink_cdc_multi_spark.operators.layout import (
            _zkey_pandas_udf,
            zorder_bounds,
        )

        bounds = zorder_bounds(df, list(zorder_by), zorder_buckets)
        zk = _zkey_pandas_udf(bounds[zorder_by[0]], bounds[zorder_by[1]])
        laid = (
            state.withColumn(
                "__zkey", zk(F.col(zorder_by[0]), F.col(zorder_by[1]))
            )
            .repartitionByRange(num_partitions, "dt", "__zkey")
            .sortWithinPartitions("dt", "__zkey")
            .drop("__zkey")
        )
    else:
        laid = state.repartition(num_partitions, "dt", *key_cols)
    tmp = f"{table_path}__compact"
    (
        laid
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("dt")
        .parquet(tmp)
    )
    if zorder_by:
        # repartitionByRange runs a SAMPLING job over the observed
        # subtree before the write, so the Observation double-counts on
        # this path (and exactly-2x is NOT guaranteed — a single-range
        # plan can skip the sample job) — take the exact count from the
        # written footers instead (metadata-only, no data scan)
        from pyspark.errors import AnalysisException

        try:
            n = spark.read.parquet(tmp).count()
        except AnalysisException:
            # a fully-deleted table writes no part files (only _SUCCESS)
            # and schema inference fails — that IS the zero-row case
            n = 0
    else:
        n = int(obs.get["n"])

    _, tmp_p = _hadoop_fs(spark, tmp)
    old = spark._jvm.org.apache.hadoop.fs.Path(f"{table_path}__old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(live, old):
        raise IOError(f"compact swap: rename {table_path} -> __old failed")
    if not fs.rename(tmp_p, live):
        fs.rename(old, live)  # roll back to the original table
        raise IOError(f"compact swap: rename {tmp} into place failed")
    fs.delete(old, True)
    return n


def maintain_group_agg(
    prev_state: DataFrame,
    prev_agg: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    group_col: str,
    value_col: str,
    order_cols: list[str],
) -> tuple[DataFrame, DataFrame]:
    """Incremental view maintenance: keep a per-group (cnt, total)
    aggregate of the CURRENT table state up to date from a CDC batch,
    without recomputing over the full table — the classic delta-
    maintenance consumer the reference's materialized change logs feed
    (SURVEY §2.6; the reference stops at the log, this maintains the
    downstream view).

    Envelope contract (envelope.py): each change carries ONE image
    (DELETE → before, else after), so the OLD contribution of an updated
    key comes from ``prev_state``, not from the change row — the batch's
    touched keys are joined against the materialized state to retract
    their previous (group, value) contribution, then the batch's
    surviving latest images add their new one.

    Inputs: ``prev_state`` — the materialized table WITH delete
    tombstones retained (what ``latest_image(drop_deletes=False)``
    produces; must contain key/group/value/_op columns and be a column
    superset match of the envelope payload). Tombstones are what make
    the stale-redelivery guard sound across deletes: without the deleted
    key's applied offset in state, a redelivered pre-delete change would
    be indistinguishable from a fresh insert and would resurrect the
    row. Live rows are ``state.filter(_op != DELETE)``; compaction must
    preserve them (``compact_table(..., drop_deletes=False)``) —
    dropping tombstones is safe only below the stored resume offset,
    where redeliveries can no longer occur;
    ``prev_agg`` — (group_col, cnt, total) from a previous call (seed
    with an empty frame or a one-off groupBy of the initial state);
    ``batch`` — the new slice of the change log (any mix of READ/INSERT/
    UPDATE/DELETE; duplicates AND stale redeliveries tolerated — the
    per-key max_by reduction collapses within-batch replays, and a
    cross-batch guard drops any image whose order columns are at or
    below the applied state's, so an at-least-once source redelivering
    an OLD change can never regress the state or the aggregate — the
    batch analogue of the streaming twin's last_pos check and of
    sources.offsets.offset_greater).

    Returns (new_state, new_agg). NULL values contribute 0 to ``total``
    and 1 to ``cnt`` (count(*) semantics); a NULL GROUP is one group
    (the aggregate merge joins null-safely, matching groupBy semantics);
    groups whose cnt reaches 0 drop out, matching a fresh groupBy of the
    state.

    Scale: every join is keyed on the table's primary key or the group —
    batch-sized inputs on one side throughout (AQE broadcasts them when
    small). The full state is touched ONLY by the one pk anti-join that
    removes replaced rows; the aggregate merge is delta×groups sized.
    Nothing ever recomputes over the table's history — cost per batch is
    O(batch + touched groups), the property that makes a 100 TB table's
    rolling aggregate maintainable at streaming cadence."""
    ordc = [(F.col(c) if isinstance(c, str) else c) for c in order_cols]
    imgs = latest_image(batch, key_cols, order_cols, drop_deletes=False)
    im = imgs.withColumn("__new_ord", F.struct(*ordc))
    old = prev_state.select(
        *key_cols,
        F.col(group_col).alias("__g_old"),
        F.col(value_col).alias("__v_old"),
        F.col("_op").alias("__op_old"),
        F.struct(*ordc).alias("__old_ord"),
    )
    # stale-redelivery guard: only images strictly NEWER than the applied
    # state pass (an unmatched key has a NULL __old_ord and always
    # passes); dropped rows contribute neither deltas nor state changes
    j = im.join(old, key_cols, "left").filter(
        F.col("__old_ord").isNull() | (F.col("__new_ord") > F.col("__old_ord"))
    )
    zero = F.lit(0).cast("long")
    # each surviving row yields up to TWO delta contributions (retract
    # old, add new) — emitted via one explode over a 2-slot array instead
    # of a union of two projections, which would plan the state-probe
    # join twice
    retract = F.when(
        # a tombstone contributed nothing — only LIVE old rows retract
        F.col("__old_ord").isNotNull() & (F.col("__op_old") != OP_DELETE),
        F.struct(
            F.col("__g_old").alias("g"),
            F.lit(-1).cast("long").alias("cnt"),
            (-F.coalesce(F.col("__v_old"), zero)).alias("total"),
        ),
    )
    add = F.when(
        F.col("_op") != OP_DELETE,
        F.struct(
            F.col(group_col).alias("g"),
            F.lit(1).cast("long").alias("cnt"),
            F.coalesce(F.col(value_col), zero).alias("total"),
        ),
    )
    delta = (
        j.select(F.explode(F.array(retract, add)).alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy(F.col("c.g").alias(group_col))
        .agg(F.sum("c.cnt").alias("cnt"), F.sum("c.total").alias("total"))
    )
    # null-safe group equality: a NULL group must MERGE with its prior
    # aggregate row exactly like groupBy treats NULL as one group — a
    # plain equi-join would fragment it into duplicate rows forever
    p, d = prev_agg.alias("p"), delta.alias("d")
    new_agg = (
        p.join(
            d,
            F.col(f"p.{group_col}").eqNullSafe(F.col(f"d.{group_col}")),
            "full",
        )
        .select(
            # on a full join one side may be entirely NULL; for a matched
            # NULL group both sides carry NULL — coalesce yields the
            # correct NULL group label either way
            F.coalesce(F.col(f"p.{group_col}"), F.col(f"d.{group_col}")).alias(
                group_col
            ),
            (F.coalesce("p.cnt", zero) + F.coalesce("d.cnt", zero)).alias("cnt"),
            (F.coalesce("p.total", zero) + F.coalesce("d.total", zero)).alias("total"),
        )
        .filter(F.col("cnt") > 0)
    )
    # deletes stay in state as TOMBSTONES (carrying their applied offset)
    # so the order guard keeps working across a delete; live rows are
    # filter(_op != DELETE)
    new_state = prev_state.join(
        j.select(*key_cols), key_cols, "left_anti"
    ).unionByName(j.select(*prev_state.columns))
    return new_state, new_agg


def expire_partitions(spark, table_path: str, before_dt: str) -> list[str]:
    """Retention enforcement on a dt-bucketed sink table: drop every
    ``dt=YYYY-MM-DD`` partition strictly OLDER than ``before_dt``.
    Returns the dropped partition names (sorted).

    The dt layout makes retention a directory delete — no rewrite, no
    scan, O(#expired partitions) metadata calls through the same Hadoop
    FileSystem abstraction as the compaction swap (any scheme). Lexical
    comparison of zero-padded ISO dates IS chronological comparison, so
    no date parsing is needed or wanted (a malformed partition name never
    silently compares as old — it is skipped and reported via the
    return value's absence).

    Ordering note: run retention BEFORE compaction if both are scheduled
    — compaction rewrites the whole table, so deleting first avoids
    paying the rewrite for bytes about to expire."""
    if len(before_dt) != 10 or before_dt[4] != "-" or before_dt[7] != "-":
        raise ValueError(f"before_dt must be YYYY-MM-DD, got {before_dt!r}")
    fs, live = _hadoop_fs(spark, table_path)
    dropped = []
    for status in fs.listStatus(live):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("dt=")):
            continue
        d = name[3:]
        if len(d) == 10 and d < before_dt:
            # the listed FileStatus already carries the exact Path —
            # no string reconcatenation/scheme-normalization round-trip
            fs.delete(status.getPath(), True)
            dropped.append(name)
    # manifest-mode leg (r15): a manifest-committed batch has no dt= dir;
    # it expires when its WHOLE dt range is old (dt_max < before_dt —
    # partial overlap keeps the batch: retention here never rewrites
    # data, matching the dt=-dir granularity trade). Visibility flips
    # first (delete the manifest), then the batch dir; a crash between
    # the two leaves an unmanifested dir the start()-time age-gated
    # sweep reclaims. Stats-less manifests never expire (fail open,
    # like read_published's pruning).
    from flink_cdc_multi_spark.operators.routing import (
        BATCHES_DIR,
        MANIFEST_DIR,
        iter_manifests,
    )

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for key, doc in iter_manifests(spark, table_path):
        hi = doc.get("dt_max")
        # non-string/malformed stats never expire (skip-and-report rule —
        # a corrupt manifest must not abort the sweep or delete data)
        if not (isinstance(hi, str) and len(hi) == 10 and hi < before_dt):
            continue
        fs.delete(jvm_path(f"{table_path}/{MANIFEST_DIR}/{key}.json"), False)
        fs.delete(jvm_path(f"{table_path}/{BATCHES_DIR}/{key}"), True)
        dropped.append(key)
    return sorted(dropped)


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup (§2.11): dropDuplicatesWithinWatermark when an
    event-time column is given (bounded state — duplicates only need to be
    tracked inside the watermark window), plain dropDuplicates otherwise
    (unbounded state; only for bounded key universes)."""
    if event_time_col is not None:
        return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return stream.dropDuplicates(key_cols)
