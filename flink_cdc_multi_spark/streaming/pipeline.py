"""The streaming CDC pipeline: one input stream → foreachBatch →
{per-table parquet, DDL tables, offset file, status file, stop control}.

Topology parity with the reference (SURVEY.md §3.2-3.3):

    Flink:  source → deserializer → keyBy(null) → stop-controller →
            keyBy(null) → router → [per-table map→FileSink]
            (+ offset-store branch, + status-store branch, checkpoint-aligned)

    here:   readStream(text) → decode_raw (envelope) → foreachBatch
            (CDCPipeline.process_batch, the one batch body):
              1. per-table typed parquet publish (dt-bucketed, EXACTLY-ONCE
                 under replay: batch-keyed staging/promote,
                 operators/routing.publish_batch_parquet — the reference's
                 roll-on-checkpoint parity, FlinkCDCMulti.java:373-389).
                 The first write job carries the control-plane reads as
                 one Observation (control_metric_aggs); route_batch
                 publishes the other observed tables concurrently
              2. offset (sources/offsets.offset_agg) → offset file (after
                 writes; the offset FILE itself stays at-least-once —
                 resume over-replay is filtered by resume_filter)
              3. status accumulate → status file
              4. control: DDL classification / snapshot-completion → stop

The micro-batch replaces Flink's checkpoint alignment: everything that the
reference does "on checkpoint complete" happens after the batch's writes
return. The 10 s delayed-stop timer (DelayedStopSignalProcessFunction.java:215)
becomes batch-aligned stop: the triggering batch commits fully, then the
query stops before the next batch — same contract ("flush in-flight, then
halt", README.md:26) with a cleaner guarantee (SURVEY.md §7.5).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_multi_spark.catalog import TableRegistry
from flink_cdc_multi_spark.config import JobConfig
from flink_cdc_multi_spark.envelope import OP_READ
from flink_cdc_multi_spark.operators.ddl import DDLDecision, classify, is_truncate
from flink_cdc_multi_spark.operators.routing import publish_table, route_batch
from flink_cdc_multi_spark.sources.debezium_json import read_raw_stream
from flink_cdc_multi_spark.sources import fsio
from flink_cdc_multi_spark.sources.offsets import (
    OffsetFileStore,
    _offset_str,
    offset_agg,
    offset_greater,
    resume_filter,
)
from flink_cdc_multi_spark.streaming.status import StatusStore

LOG = logging.getLogger(__name__)


def control_metric_aggs(source_type: str) -> list:
    """The batch's control-plane reads as global aggregates, legal as
    ``df.observe`` metrics: they ride the batch's first write job, so the
    control plane costs no Spark job of its own. Row count, max event ts
    (ST8), the observed data identities with a per-row non-READ flag
    (snapshot-only completion, ST1), the DDL slice (F3/F4) and the offset
    reduction (ST4-ST7, sources/offsets.offset_agg). collect_set /
    collect_list outputs are bounded by 2×|tables| and DDL volume (~zero),
    never by batch size."""
    from flink_cdc_multi_spark.catalog import _DDL_OFFSET_FIELDS

    ddl_payload_cols = ["_ddl", "_ddl_tbl", "_ts"] + [
        f.name for f in _DDL_OFFSET_FIELDS.get(source_type, [])
    ]
    # null for rows without an op (they neither complete nor process a table)
    non_read = F.when(F.col("_op").isNotNull(), F.col("_op") != OP_READ)
    return [
        F.count(F.lit(1)).alias("n"),
        F.max("_ts").alias("max_ts"),
        F.collect_set(
            F.when(
                F.col("_ddl").isNull(),
                F.struct("_db", "_tbl", non_read.alias("non_read")),
            )
        ).alias("tables"),
        F.collect_list(
            F.when(F.col("_ddl").isNotNull(), F.struct("_db", *ddl_payload_cols))
        ).alias("ddl"),
        offset_agg(source_type).alias("offset"),
    ]


def _identity(spec) -> tuple[str, str]:
    """The (db, tbl) source identity a spec's own key names."""
    return tuple(spec.key.split(".", 1))


class SnapshotPhaseError(RuntimeError):
    """Non-READ op while in snapshot-only mode after completion — the
    reference errors (DelayedStopSignalProcessFunction.java:69-78)."""


class InvalidDDLError(RuntimeError):
    """DDL event with a blank database or table identity — the reference
    hard-fails (MySQLDebeziumToJSONDeserializer.java:56-67) because the
    schema history is unresolvable without operator intervention."""


@dataclass
class StopController:
    """ST1-ST3 equivalent. All of the reference's 'global keyed state'
    (tiny per-table sets) lives driver-side — the idiomatic Spark home for
    singleton control state; the data path stays fully parallel."""

    snapshot_only: bool
    dialect: str = "mysql"
    target_tables: set[str] | None = None  # {"db.tbl"} sanitized; None = all
    stop_requested: bool = False
    stop_reason: str | None = None
    snapshot_complete: bool = False
    # ST1 per-table sets (processedTablesState / completedTablesState,
    # DelayedStopSignalProcessFunction.java:84-118): a table is "complete"
    # once it has seen a non-READ op; stop arms when every target table
    # completed (or, with no table list, processed == completed).
    processed_tables: set[str] = field(default_factory=set)
    completed_tables: set[str] = field(default_factory=set)

    # -- persistence (the reference checkpoints this state:
    # DelayedStopSignalProcessFunction.java:41-56 initializeState/
    # snapshotState; without it a driver restart re-arms a snapshot-only
    # job from scratch and completions observed before the crash are lost)

    def to_state(self) -> dict:
        return {
            "snapshot_complete": self.snapshot_complete,
            "processed_tables": sorted(self.processed_tables),
            "completed_tables": sorted(self.completed_tables),
        }

    def load_state(self, state: dict) -> None:
        self.snapshot_complete = bool(state.get("snapshot_complete", False))
        self.processed_tables = set(state.get("processed_tables", ()))
        self.completed_tables = set(state.get("completed_tables", ()))
        if self.snapshot_only and self.snapshot_complete:
            # an already-complete snapshot-only job must stop again right
            # away, not idle forever waiting for a completion that happened
            # before the restart
            self.stop_requested = True
            self.stop_reason = (
                "snapshot complete (restored from persisted controller state)"
            )

    def on_ddl_rows(self, ddl_rows: list[dict]) -> None:
        """Structural DDL → arm stop (F3/F4 + ST1 CDC-mode). `ddl_rows` is
        the collected DDL slice of one batch (DDL volume is ~zero)."""
        for row in ddl_rows:
            ddl = row.get("_ddl")
            if not ddl:
                continue
            db, ddl_tbl = row.get("_db"), row.get("_ddl_tbl")
            if not (db or "").strip() or not (ddl_tbl or "").strip():
                # reference parity (MySQLDebeziumToJSONDeserializer.java:
                # 56-67): a DDL event whose database or table identity is
                # blank means the history is unresolvable (e.g. a table
                # altered repeatedly on a field that predates capture) —
                # manual intervention, never silent routing to nowhere
                raise InvalidDDLError(
                    f"INVALID DDL FOUND, MANUAL INTERVENTION NEEDED "
                    f"(db={db!r}, table={ddl_tbl!r}): {ddl}"
                )
            if self.target_tables is not None and f"{db}.{ddl_tbl}" not in self.target_tables:
                LOG.info("DDL for non-target table ignored: %s.%s", db, ddl_tbl)
                continue
            if is_truncate(ddl):
                LOG.info("TRUNCATE TABLE found; should use snapshot-only mode")
            if classify(ddl, self.dialect) is DDLDecision.IGNORE:
                LOG.info("non-structural DDL ignored: %s", ddl)
                continue
            self.stop_requested = True
            self.stop_reason = f"structural DDL: {ddl}"
            return

    def on_batch_tables(self, table_ops: list[tuple[str, bool]]) -> None:
        """Snapshot-only completion over one batch's (table_key,
        saw_non_read) pairs — the micro-batch granularity of ST1's
        per-record loop (:83-131). Post-completion: READs ignored,
        non-READs error (:69-78)."""
        if not self.snapshot_only or not table_ops:
            return
        if self.snapshot_complete:
            if any(non_read for _, non_read in table_ops):
                raise SnapshotPhaseError(
                    "non-READ op after snapshot completion in snapshot-only mode"
                )
            return
        for key, non_read in table_ops:
            self.processed_tables.add(key)
            if non_read:
                self.completed_tables.add(key)
        if self.target_tables:
            all_done = self.target_tables <= self.completed_tables
        else:
            all_done = (
                bool(self.completed_tables)
                and self.processed_tables == self.completed_tables
            )
        if all_done:
            self.snapshot_complete = True
            self.stop_requested = True
            self.stop_reason = (
                f"snapshot complete (all tables saw non-READ ops: "
                f"{sorted(self.completed_tables)})"
            )


@dataclass
class CDCPipeline:
    config: JobConfig
    registry: TableRegistry
    # (db, tbl) -> StructType | None; typically
    # introspect.introspect_schema over a catalog reader. Consulted for
    # unknown tables when scan.newly.added.tables is on.
    schema_provider: object = None
    controller: StopController = field(init=False)
    status: StatusStore = field(init=False)
    offset_store: OffsetFileStore | None = field(init=False)
    batches_processed: int = 0
    # cumulative per-stage wall seconds across batches (bench/diagnostics)
    stage_seconds: dict = field(default_factory=dict)

    def __post_init__(self):
        cfg = self.config
        self.controller = StopController(
            snapshot_only=cfg.snapshot_only,
            dialect="oracle" if cfg.source_type == "oracle" else "mysql",
            target_tables=set(cfg.source_table_list) or None,
        )
        job_name = cfg.job_name or f"JOB-{cfg.source_id}"
        self.status = StatusStore(
            cfg.status_store_path or cfg.sink_path, cfg.source_id, job_name
        )
        self.offset_store = (
            OffsetFileStore(cfg.offset_store_path, cfg.source_id)
            if cfg.offset_store_path
            else None
        )
        # controller state lives beside the offset file (same durability
        # domain: both are what a restart needs to resume correctly)
        self.controller_path = (
            fsio.join(cfg.offset_store_path, f"{cfg.source_id}_stopctl.json")
            if cfg.offset_store_path
            else None
        )
        if self.controller_path:
            raw = fsio.read_text(self.controller_path)
            if raw:
                self.controller.load_state(json.loads(raw))
        self._ckpt_dir: str | None = None
        self._publish_tag: str | None = None
        # fallback publish tag for direct process_batch callers (polling,
        # tests): unique per pipeline INSTANCE, so two runs sharing a
        # sink never collide on batch ids; such callers have no replay,
        # so stability across processes isn't needed (their crash
        # semantics stay at-least-once via their own watermark/offset)
        import uuid

        self._instance_tag: str = uuid.uuid4().hex[:8]

    def _batch_key(self, batch_id: int) -> str:
        """Publish key unique per (query lineage, epoch): the streaming
        query id from the checkpoint's metadata file (stable across
        restarts of the SAME checkpoint — the replay-dedup requirement —
        and regenerated with a fresh one) + the epoch id. A bare epoch
        id collides across lineages sharing a sink dir (r14
        kafka-resume: a fresh checkpoint's batch 0 would delete the
        previous run's b0- files; r14 polling e2e: a second polling
        process's batch 0 deleted the first's snapshot)."""
        if self._publish_tag is None and self._ckpt_dir:
            meta = fsio.read_text(fsio.join(self._ckpt_dir, "metadata"))
            tag = None
            if meta:
                try:
                    tag = json.loads(meta)["id"].replace("-", "")[:8]
                except (ValueError, KeyError, TypeError):
                    tag = None
            if tag is None:
                # metadata unreadable: a path-derived tag would be
                # IDENTICAL for a fresh checkpoint recreated at the same
                # path, so the new lineage's batch 0 would delete the old
                # lineage's b<tag>x0- files (ADVICE r14). Persist a
                # generated tag in a sidecar INSIDE the checkpoint dir
                # instead: unique per lineage (the sidecar dies with the
                # checkpoint), stable across restarts of this one.
                side = fsio.join(self._ckpt_dir, "_fcm_publish_tag.json")
                raw = fsio.read_text(side)
                if raw:
                    try:
                        tag = json.loads(raw).get("tag") or None
                    except ValueError:
                        tag = None
                if tag is None:
                    import uuid as _uuid

                    tag = _uuid.uuid4().hex[:8]
                    fsio.write_text_atomic(side, json.dumps({"tag": tag}))
            self._publish_tag = tag
        return f"{self._publish_tag or self._instance_tag}x{batch_id}"

    def _resolve_unknown_table(self, db: str, tbl: str):
        """Newly-added-table pickup: when enabled and a schema provider is
        wired, an unseen table is introspected and adopted instead of
        hitting the unknown-table policy (MySQLStreamer.java:302)."""
        if not self.config.scan_newly_added_tables or self.schema_provider is None:
            return None
        schema = self.schema_provider(db, tbl)
        if schema is None:
            return None
        from flink_cdc_multi_spark.catalog import TableSpec

        # adopt under the MAPPED identity: lookup() applies the name maps
        # before consulting specs, so a spec keyed by the raw names would
        # never be found again (re-introspected every batch) and would
        # write to the unmapped output directory.
        mdb, mtbl = self.registry.mapped_names(db, tbl)
        LOG.info("adopting newly added table %s.%s as %s.%s", db, tbl, mdb, mtbl)
        return TableSpec(db=mdb, table=mtbl, payload_schema=schema)

    # -- batch body (also usable standalone for batch-mode ingestion) -----

    def _mark(self, stage: str, t0: float) -> float:
        import time

        now = time.perf_counter()
        self.stage_seconds[stage] = self.stage_seconds.get(stage, 0.0) + (now - t0)
        return now

    def _remove_if_dataless(self, spark: SparkSession, spec) -> None:
        """Delete a table dir that contains no data files (a zero-row
        parquet append commits only _SUCCESS; such a dir is unreadable).
        A dir holding data from earlier batches keeps it and the empty
        append is harmless."""
        from flink_cdc_multi_spark.operators.cdc import _hadoop_fs

        cfg = self.config
        path = f"{cfg.sink_path}/{cfg.source_id}_{spec.output_name}"
        fs, jp = _hadoop_fs(spark, path)
        if not fs.exists(jp):
            return
        import re

        from flink_cdc_multi_spark.operators.routing import (
            BATCHES_DIR,
            MANIFEST_DIR,
        )

        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        manifested = {
            st.getPath().getName()[: -len(".json")]
            for st in fs.globStatus(jvm_path(f"{path}/{MANIFEST_DIR}/b*.json"))
            or []
        }
        it = fs.listFiles(jp, True)
        while it.hasNext():
            p = it.next().getPath()
            name = p.getName()
            full = p.toString()
            # staged files in a hidden .staging_* dir are NOT data —
            # counting them would keep a dataless dir alive forever when
            # a crashed attempt's staging lingers (r14 review finding)
            if "/.staging_" in full:
                continue
            # manifest-mode batch dirs: parts are data ONLY when their
            # batch's manifest committed — an unmanifested dir is a
            # crashed attempt, the same non-data class as staging (r15
            # review: counting it re-introduced the staging bug)
            if f"/{BATCHES_DIR}/" in full:
                bkey = full.split(f"/{BATCHES_DIR}/", 1)[1].split("/", 1)[0]
                if bkey not in manifested:
                    continue
            # data files: legacy appends are part-*, the exactly-once
            # publish promotes them as b<batch>-part-*
            if name.startswith("part-") or re.match(r"b[0-9a-fx]+-part-", name):
                return
        fs.delete(jp, True)
        # the folded-key marker lives BESIDE the dir; dropping the table
        # must drop it too or it becomes permanent orphan state (ADVICE r14)
        from flink_cdc_multi_spark.operators.routing import _remove_marker

        _remove_marker(path)

    def _append_ddl_rows(self, spark: SparkSession, ddl_rows: list,
                         batch_id: int | str | None = None) -> None:
        """Write collected DDL events into the per-db `_<db>_ddl` tables.
        DDL volume is control-plane volume (~zero), so the rows ride the
        observation and land via a driver-built append — no per-batch empty
        write job for the DDL table. Same exactly-once publish as the
        data tables (a replayed batch must not duplicate DDL rows)."""
        from collections import defaultdict

        from flink_cdc_multi_spark.functions.datetime_utils import dt_bucket
        from flink_cdc_multi_spark.operators.routing import publish_batch_parquet

        cfg = self.config
        by_db: dict[str, list] = defaultdict(list)
        for r in ddl_rows:
            by_db[r["_db"]].append(r)
        for db, rows in by_db.items():
            # lookup applies the db name map, as route_batch does for data
            spec = self.registry.lookup(db, f"_{db}_ddl")
            if spec is None:
                continue  # registry built without DDL tables
            data = [tuple(r[f.name] for f in spec.payload_schema.fields) for r in rows]
            df = spark.createDataFrame(data, spec.payload_schema)
            df = df.withColumn("dt", dt_bucket(F.col("_ts")))
            publish_batch_parquet(
                df, f"{cfg.sink_path}/{cfg.source_id}_{spec.output_name}",
                batch_id,
            )

    def process_batch(self, envelope: DataFrame, batch_id: int) -> None:
        """One micro-batch: per-table publishes, DDL rows, offset file,
        status file, stop decisions, maintenance compaction — in that order.

        The control-plane reads (control_metric_aggs) ride the batch's
        FIRST write job as an Observation: at streaming cadence the per-job
        floor, not the data, dominates the batch. Job 1 publishes the lead
        table (the first data table whose key is its own source identity)
        from the observed batch, or is a noop write when nothing may be
        written; route_batch then publishes every other observed identity
        concurrently. Jobs per batch: one per active table, plus one when
        the lead table had no rows.

        Unknown-table policy note: the fail check runs AFTER job 1's
        publish (the observed identities exist only once a job ran). That
        stays inside the pipeline's at-least-once contract — a failed batch
        is not committed to the checkpoint and replays wholesale on
        restart, exactly like a crash between two per-table writes."""
        import time

        from pyspark.sql import Observation

        cfg = self.config
        if self.controller.stop_requested:
            # F1 suppression: after the stop signal is armed, drop all
            # subsequent records (DelayedStopSignalProcessFunction.java:138-141)
            return
        t = time.perf_counter()
        if cfg.debug:
            # W3/F7 debug print sink (FlinkCDCMulti.java:148-154)
            envelope.show(20, truncate=False)
        # Column expressions are immutable/reusable — build the metric aggs
        # once, not per batch (each F.* call is a Py4J round trip)
        if not hasattr(self, "_ctl_aggs"):
            self._ctl_aggs = control_metric_aggs(cfg.source_type)
        # snapshot-only after completion: READs are dropped (F2) and a
        # non-READ errors in the controller below — nothing is written
        frozen = cfg.snapshot_only and self.controller.snapshot_complete
        data_specs = [] if frozen else self.registry.data_specs()
        # a name-mapped key is not the identity its rows arrive under, so
        # the lead must be a spec its own identity looks up
        lead = next(
            (s for s in data_specs if self.registry.lookup(*_identity(s)) is s),
            None,
        )
        # more than one job reads the batch (several tables, or a noop
        # job 1 before route_batch): persist it so the JSON decode runs
        # once (at scale the decode is the data cost)
        cached = len(data_specs) > 1 or bool(data_specs and lead is None)
        if cached:
            envelope = envelope.persist()
        bkey = self._batch_key(batch_id)
        obs = Observation(f"ctl_{batch_id}")
        observed = envelope.observe(obs, *self._ctl_aggs)
        try:
            # 1. route + write (batch key → exactly-once publish: a
            # replayed batch deletes its own prior files before
            # re-promoting, so a crash anywhere between the data write
            # and the checkpoint commit cannot duplicate rows)
            if lead is not None:
                publish_table(observed, self.registry, lead, *_identity(lead),
                              cfg.sink_path, cfg.source_id, bkey)
            else:
                observed.write.format("noop").mode("overwrite").save()
            m = obs.get
            # observed data identities → the set of their non-READ flags
            seen: dict[tuple[str, str], set] = {}
            for r in m["tables"] or []:
                seen.setdefault((r["_db"], r["_tbl"]), set()).add(r["non_read"])
            ddl_rows = m["ddl"] or []
            if not frozen:
                route_batch(
                    envelope,
                    self.registry,
                    cfg.sink_path,
                    cfg.source_id,
                    resolve_unknown=self._resolve_unknown_table,
                    counts=[k for k in seen if lead is None or k != _identity(lead)],
                    batch_id=bkey,
                )
                if lead is not None and _identity(lead) not in seen:
                    # job 1's empty publish may have left a schema-less dir
                    self._remove_if_dataless(envelope.sparkSession, lead)
                if ddl_rows:
                    self._append_ddl_rows(envelope.sparkSession, ddl_rows,
                                          batch_id=bkey)
        finally:
            if cached:
                envelope.unpersist()
        t = self._mark("route_write", t)

        # 2. offset file, AFTER data writes commit (at-least-once, ST4).
        # Advance monotonically: a batch may carry lower offsets than an
        # earlier one (file pickup order ≠ offset order), and the stored
        # offset must never regress or resume would over-replay.
        if self.offset_store is not None:
            offset = _offset_str(m["offset"], cfg.source_type)
            if offset is not None:
                prev = self.offset_store.read()
                if prev is None or offset_greater(offset, prev, cfg.source_type):
                    self.offset_store.write(offset)

        # 3. status file (ST8; checkpoint-complete == batch end)
        self.status.update(m["n"], m["max_ts"])
        self.status.flush()

        # 4. stop decisions take effect before the next batch
        before = self.controller.to_state()
        self.controller.on_batch_tables(
            [
                (f"{db}.{tbl}", True in flags)
                for (db, tbl), flags in seen.items()
                if flags != {None}
            ]
        )
        self.controller.on_ddl_rows(
            [
                {"_db": r["_db"], "_ddl": r["_ddl"], "_ddl_tbl": r["_ddl_tbl"]}
                for r in ddl_rows
            ]
        )
        if self.controller_path and self.controller.to_state() != before:
            fsio.write_text_atomic(
                self.controller_path, json.dumps(self.controller.to_state())
            )
        t = self._mark("offset_status_ctl", t)
        self.batches_processed += 1

        # 5. maintenance compaction every N batches (rebuild improvement
        # over the reference's roll-on-checkpoint-and-never-compact sink;
        # PERF.md names small-file buildup the antidote target). Runs
        # AFTER the offset commit: the replay window on resume starts at
        # the stored offset, so compacting away tombstones/old images
        # below it can never resurrect a row. Exactly-once under a
        # crash between compaction and the epoch's checkpoint commit
        # is preserved by the folded-key marker (see run_compaction):
        # the replayed batch sees its own key in the marker and skips
        # its publish instead of re-promoting rows compaction folded.
        if (
            cfg.compact_every_n_batches
            and cfg.table_key_columns
            and self.batches_processed % cfg.compact_every_n_batches == 0
        ):
            self.run_compaction(envelope.sparkSession, folded_key=bkey)

    def compaction_order_cols(self) -> list:
        """Monotone per-source ordering over the columns the router KEEPS in
        table output (routing strips raw offset cols; mysql keeps the
        *_internal binlog twins, mongo keeps _ts/_txn_op_index, pg/oracle
        order on _ts)."""
        st = self.config.source_type
        if st == "mysql":
            return ["_binlog_file_internal", "_binlog_pos_internal"]
        if st == "mongodb":
            return [F.col("_ts"), F.col("_txn_op_index").try_cast("int")]
        return ["_ts"]

    def run_compaction(self, spark, folded_key=None) -> dict[str, int]:
        """Compact every table declared in table.key.columns to its
        materialized latest image (operators/cdc.compact_table). Returns
        {table key: compacted row count}.

        ``folded_key`` (r14 review finding): compaction rewrites the
        table into plain part-* files, consuming the b<key>- replay
        markers of the CURRENT (not-yet-checkpoint-committed) batch — a
        crash between compaction and the commit would then re-promote
        that batch's rows next to the compacted image. The fix is an
        atomic per-table marker recording the batch key whose rows
        compaction folds, written BEFORE the rewrite: a replayed batch
        whose key matches the marker SKIPS its publish
        (publish_batch_parquet). Both crash orderings are safe — marker
        written but compaction not run: the original published files
        are still in place, the skip loses nothing; compaction ran:
        the skip prevents the duplicate."""
        from flink_cdc_multi_spark.operators.cdc import _hadoop_fs, compact_table
        from flink_cdc_multi_spark.operators.routing import COMPACTED_KEY_MARKER

        cfg = self.config
        order_cols = self.compaction_order_cols()
        results: dict[str, int] = {}
        for key, key_cols in cfg.table_key_columns.items():
            spec = self.registry.specs.get(key)
            if spec is None or spec.is_ddl:
                LOG.warning("table.key.columns entry %s not in registry; skipped", key)
                continue
            path = f"{cfg.sink_path}/{cfg.source_id}_{spec.output_name}"
            fs, jp = _hadoop_fs(spark, path)
            if not fs.exists(jp):
                continue  # no batch has landed rows for it yet
            if folded_key is not None:
                # marker lives BESIDE the table dir — the compaction swap
                # replaces the dir itself, so an inside marker would be
                # consumed by the very rewrite it guards
                fsio.write_text_atomic(
                    path + COMPACTED_KEY_MARKER,
                    json.dumps({"folded_key": str(folded_key)}),
                )
            results[key] = compact_table(
                spark, path, key_cols, order_cols,
                zorder_by=cfg.compaction_zorder_columns or None,
            )
            LOG.info("compacted %s -> %d rows", key, results[key])
        return results

    # -- streaming driver --------------------------------------------------

    def start(
        self,
        spark: SparkSession,
        input_path: str | None,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        input_stream: DataFrame | None = None,
    ):
        """Start the streaming query. The default source is the file feed
        (``read_raw_stream`` on ``input_path``); pass ``input_stream`` to
        feed an ALREADY-DECODED envelope stream instead — the Kafka leg
        (``sources/kafka.read_kafka_stream`` or its file-backed stand-in)
        plugs in here, and everything downstream (resume filter, startup
        modes, foreachBatch, offset/status stores, stop control) is shared
        verbatim between transports. Trigger sizing for an injected
        stream belongs to its reader (e.g. maxOffsetsPerTrigger for
        Kafka, maxFilesPerTrigger on the stand-in), so combining
        ``input_stream`` with ``max_files_per_trigger`` is rejected
        rather than silently ignored."""
        if input_stream is None and input_path is None:
            raise ValueError("start() needs input_path or input_stream")
        if input_stream is not None and max_files_per_trigger is not None:
            raise ValueError(
                "max_files_per_trigger applies to the built-in file feed; "
                "configure trigger sizing on the injected input_stream's "
                "own reader instead"
            )
        cfg = self.config
        # publish keys derive from this checkpoint's query lineage
        self._ckpt_dir = checkpoint_dir
        self._publish_tag = None
        # sweep orphaned staging dirs (r14): a crash mid-staging under a
        # RETIRED lineage (fresh checkpoint, or a direct caller's
        # per-instance tag) leaves a hidden .staging_b* dir no replay
        # will ever rewrite or clean. Age-gated (r15): a staging dir may
        # also belong to a CONCURRENT pipeline sharing the sink — see
        # _sweep_stale_staging
        self._sweep_stale_staging(spark)
        # self-heal any compaction swap a previous process crashed inside:
        # without this, streaming appends recreate the live dir with only
        # post-crash rows and the NEXT compaction deletes `__old` (the
        # whole pre-crash table) as a stale leftover — permanent loss.
        if cfg.table_key_columns:
            from flink_cdc_multi_spark.operators.cdc import recover_compact_swap

            for key in cfg.table_key_columns:
                spec = self.registry.specs.get(key)
                if spec is None:
                    continue
                path = f"{cfg.sink_path}/{cfg.source_id}_{spec.output_name}"
                action = recover_compact_swap(spark, path)
                if action:
                    LOG.warning("compaction swap recovery for %s: %s", key, action)
        if cfg.source_type == "oracle" and cfg.startup_mode in ("earliest", "offset"):
            # Oracle earliest/offset startup degrades to initial with a
            # warning (OracleStreamer.java:134-144)
            LOG.warning(
                "oracle startup.mode=%s unsupported; degrading to initial",
                cfg.startup_mode,
            )
            cfg.startup_mode = "initial"
        if cfg.source_type == "postgres" and cfg.startup_mode == "timestamp":
            # PG timestamp startup unsupported (PostgresStreamer.java:148-152)
            raise ValueError("postgres does not support startup.mode=timestamp")
        # config offset.value wins over the stored offset file: configureOffset
        # (FlinkCDCMulti.java:190-193) returns early when offset.value is set
        # and only consults the store otherwise — a user manually
        # re-positioning must not be overridden by a stale offset file. The
        # merge happens BEFORE source-specific startup resolution, matching
        # the reference's configureOffset-then-streamer order, so mongo's
        # compat gate and format validation see the offset that would
        # actually drive the resume (stored or configured).
        stored = self.offset_store.read() if self.offset_store else None
        offset = cfg.offset_value or stored
        if cfg.source_type == "mongodb":
            # version-gated startup matrix (MongoDBStreamer.java:145-231);
            # the server version comes from buildInfo on a live client or
            # the mongodb.server.version config key for feed-based runs
            from flink_cdc_multi_spark.sources.mongo import resolve_mongo_startup

            mode, offset, warnings = resolve_mongo_startup(
                cfg.startup_mode,
                offset,
                cfg.raw.get("mongodb.server.version"),
            )
            for w in warnings:
                LOG.warning("%s", w)
            cfg.startup_mode, cfg.offset_value = mode, offset
        # single-table typed decode: parse before/after AS the table's
        # struct inside the one stream-level from_json — the routing
        # boundary then projects with zero extra parses. Requires exactly
        # one data table, a non-mongo source (mongo payloads need the
        # $-unwrap string path), and no mid-run table adoption (an adopted
        # table's rows would have been parsed with the wrong schema).
        payload_schema = None
        data_specs = self.registry.data_specs()
        if (
            len(data_specs) == 1
            and cfg.source_type != "mongodb"
            and not cfg.scan_newly_added_tables
        ):
            payload_schema = data_specs[0].payload_schema
        if input_stream is not None:
            stream = input_stream
        else:
            # value.converter.schemas.enable: the Kafka Connect
            # JsonConverter DEFAULT wraps records in {"schema","payload"}
            # — honor the same property name for the file feed so a topic
            # dump from a default-converter deployment replays unedited
            # (the Kafka legs get the same flag in __main__ — r16)
            stream = read_raw_stream(
                spark,
                input_path,
                cfg.source_type,
                max_files_per_trigger,
                payload_schema=payload_schema,
                schemas_enable=cfg.schemas_enable,
            )
        # The resume offset is PINNED per checkpoint lineage (r14): the
        # filter must be attempt-invariant — a replayed batch must see
        # the exact rows its crashed attempt saw, or the batch-keyed
        # exactly-once publish deletes the crashed attempt's files and
        # re-promotes a DIFFERENT row set (two r14 findings: an
        # offsets-WAL-keyed guard flipped the filter off entirely, and
        # the offset FILE advancing inside the crashed attempt shifted
        # the filter forward and lost the in-between rows). A sidecar in
        # the checkpoint dir records the offset resolved at the
        # lineage's FIRST start; every restart filters from that same
        # value — the semantics of a real CDC client, which seeks once
        # at subscription. Repositioning therefore requires a fresh
        # checkpoint dir (warned below), matching the WAL's own behavior
        # for source offsets.
        sidecar = fsio.join(checkpoint_dir, "_fcm_resume_offset.json")
        pinned_raw = fsio.read_text(sidecar)
        if pinned_raw is not None:
            try:
                pinned = json.loads(pinned_raw).get("offset")
            except ValueError:
                pinned = None
            if offset != pinned:
                LOG.warning(
                    "checkpoint %s pinned resume offset %r at first start; "
                    "ignoring %r (repositioning needs a fresh checkpoint dir)",
                    checkpoint_dir, pinned, offset,
                )
            offset = pinned
        else:
            fsio.write_text_atomic(sidecar, json.dumps({"offset": offset}))
        if offset:
            stream = resume_filter(stream, cfg.source_type, offset)
        elif cfg.startup_mode == "timestamp" and cfg.datetime_offset:
            # startup.mode=timestamp: skip events before datetime.offset
            # (MySQLStreamer.java:240-251; zone pinned UTC per SURVEY §7.5,
            # override via source.timezone)
            from datetime import datetime, timezone

            tz = timezone.utc
            dt = datetime.fromisoformat(cfg.datetime_offset).replace(tzinfo=tz)
            start_ms = int(dt.timestamp() * 1000)
            stream = stream.filter(
                F.col("_ddl").isNotNull() | (F.col("_ts") >= start_ms)
            )

        if cfg.dedup_redelivery_suppress:
            # content-level duplicate suppression (r15, opt-in): identical
            # redelivered events — re-produced Kafka records under new
            # offsets, polling overlap, replayed feed files — are dropped
            # by per-digest engine state BEFORE the batch body, so counts,
            # status, offsets, and the sink all see each event once.
            # Identity = every envelope column EXCEPT the Kafka transport
            # triple (a re-produced duplicate carries a new kafka offset
            # but identical source content/offsets; two genuinely distinct
            # DATA events always differ in their source offsets). The order
            # key only breaks ties among IDENTICAL rows, so any never-null
            # stand-in works — _ts with a 0 fallback (dedup_stream drops
            # NULL order keys by contract, and DDL rows can carry null _ts).
            #
            # r16 (VERDICT item 3 + ADVICE): the state horizon is BOUNDED by
            # dedup.redelivery.ttl.minutes (default = Kafka's default
            # retention, 7 d — unbounded state grows linearly in total
            # events), and POSITION-LESS DDL rows BYPASS suppression: a
            # DDL with null source offsets (the class resume_filter
            # deliberately passes) that legitimately recurs with identical
            # statement text is content-identical, so suppressing it would
            # silently drop a real schema-history event. POSITIONED DDL
            # stays on the dedup leg (r16 review): its offsets are part of
            # the content identity, so distinct statements always differ
            # and a redelivered copy is a genuine duplicate — an
            # unconditional bypass wrote it twice to the schema-history
            # table. Position-less DDL is rare — the bypass costs nothing.
            from flink_cdc_multi_spark.streaming.stateful import dedup_stream

            content_cols = [
                c for c in stream.columns if not c.startswith("_kafka_")
            ]
            from flink_cdc_multi_spark.sources.offsets import ddl_positionless

            data_leg = stream
            ddl_leg = None
            if "_ddl" in stream.columns:
                # shared with resume_filter's position rules (r16 review:
                # a hand-copied map here fell back to bypass-ALL-DDL for
                # unlisted sources); fails CLOSED to the dedup leg
                bypass = F.col("_ddl").isNotNull() & ddl_positionless(
                    cfg.source_type, stream.columns
                )
                ddl_leg = stream.filter(bypass)
                data_leg = stream.filter(~bypass)
            deduped = (
                dedup_stream(
                    data_leg.withColumn(
                        "_dedup_order", F.coalesce(F.col("_ts"), F.lit(0))
                    ),
                    content_cols,
                    "_dedup_order",
                    ttl_minutes=cfg.dedup_redelivery_ttl_minutes,
                )
                .drop("_dedup_order")
            )
            stream = (
                deduped.unionByName(ddl_leg) if ddl_leg is not None else deduped
            )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        # checkpoint.interval maps to the micro-batch (=commit) cadence;
        # 0 = trigger as soon as data is available, the closest analogue of
        # Flink's continuous processing between checkpoints.
        if cfg.checkpoint_interval_s > 0:
            writer = writer.trigger(
                processingTime=f"{cfg.checkpoint_interval_s} seconds"
            )
        query = writer.start()
        return query

    def _sweep_stale_staging(self, spark: SparkSession) -> None:
        """Delete ORPHANED .staging_b* dirs under every registered table
        dir. Age-gated (ADVICE r14 medium): the lineage/instance-tag
        design supports concurrent pipelines sharing a sink dir, and an
        unconditional sweep would delete a concurrently RUNNING batch's
        staging mid-publish — _promote_staging's empty glob then promoted
        zero rows while the victim still committed its offset (silent
        loss). A live batch's staging is at most a batch-duration old;
        orphans (crashed retired lineages) persist indefinitely — so only
        dirs older than SPARK_GRAFT_STAGING_SWEEP_AGE_S (default 3600 s)
        are swept, and _promote_staging now fails LOUDLY if its staging
        dir vanished anyway."""
        import os as _os
        import shutil as _shutil
        import time as _time

        from flink_cdc_multi_spark.operators.routing import (
            BATCHES_DIR,
            MANIFEST_DIR,
        )

        min_age_s = float(_os.environ.get("SPARK_GRAFT_STAGING_SWEEP_AGE_S", 3600))
        now_ms = _time.time() * 1000.0
        cfg = self.config
        for spec in self.registry.specs.values():
            path = f"{cfg.sink_path}/{cfg.source_id}_{spec.output_name}"
            if not fsio.has_scheme(path):
                import glob as _glob

                # manifest-mode orphans: a batch dir with NO manifest is an
                # uncommitted crashed attempt (a manifested dir is DATA)
                unmanifested = [
                    d
                    for d in _glob.glob(f"{path}/{BATCHES_DIR}/b*")
                    if not _os.path.exists(
                        f"{path}/{MANIFEST_DIR}/{_os.path.basename(d)}.json"
                    )
                ]
                for d in _glob.glob(f"{path}/.staging_b*") + unmanifested:
                    try:
                        age_s = (now_ms / 1000.0) - _os.path.getmtime(d)
                    except OSError:
                        continue  # vanished under us — its owner is live
                    if age_s >= min_age_s:
                        _shutil.rmtree(d, ignore_errors=True)
                continue
            from flink_cdc_multi_spark.operators.cdc import _hadoop_fs

            fs, _ = _hadoop_fs(spark, path)
            jvm_path = spark._jvm.org.apache.hadoop.fs.Path
            stale = list(fs.globStatus(jvm_path(f"{path}/.staging_b*")) or [])
            for st in fs.globStatus(jvm_path(f"{path}/{BATCHES_DIR}/b*")) or []:
                mf = jvm_path(
                    f"{path}/{MANIFEST_DIR}/{st.getPath().getName()}.json"
                )
                if not fs.exists(mf):
                    stale.append(st)
            for st in stale:
                if now_ms - st.getModificationTime() >= min_age_s * 1000.0:
                    fs.delete(st.getPath(), True)

    def run_until_stopped(self, query, poll_s: float = 0.25, timeout_s: float | None = None):
        """Await the stop controller: the triggering batch commits, then the
        query stops before the next trigger (batch-aligned stop, §7.5)."""
        import time

        t0 = time.time()
        while query.isActive:
            if self.controller.stop_requested:
                query.stop()
                break
            if timeout_s is not None and time.time() - t0 > timeout_s:
                break
            time.sleep(poll_s)
        query.awaitTermination(10)
        return self.controller.stop_reason
