"""End-to-end streaming: file-fed Debezium JSON → per-table parquet + offset
+ status + stop control (SURVEY.md §5 streaming layer)."""

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import make_mysql_ddl, make_mysql_row

from flink_cdc_multi_spark.catalog import TableRegistry
from flink_cdc_multi_spark.config import JobConfig
from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline, StopController

USERS = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


def _pipeline(tmp_path, tables=None, **cfg_overrides):
    cfg = JobConfig.from_dict(
        {
            "source.id": "s1",
            "source.type": "mysql",
            "sink.path": str(tmp_path / "sink"),
            "offset.store.path": str(tmp_path / "store"),
            "status.store.path": str(tmp_path / "store"),
            "checkpoint.interval": 1,
            **cfg_overrides,
        }
    )
    reg = TableRegistry.build(
        "mysql",
        tables if tables is not None else {("testdb", "users"): USERS},
        fail_on_unknown_tables=cfg.fail_on_unknown_tables,
    )
    return CDCPipeline(cfg, reg)


def _feed(tmp_path, name, lines):
    feed = tmp_path / "feed"
    feed.mkdir(exist_ok=True)
    (feed / name).write_text("\n".join(lines) + "\n")
    return str(feed)


def test_stream_end_to_end(spark, tmp_path):
    lines = [
        make_mysql_row(op="r", after={"id": 1, "v": "a"}, snapshot="true", pos=1),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=100, ts_ms=1700000001000),
        make_mysql_row(op="u", before={"id": 2, "v": "b"}, after={"id": 2, "v": "c"},
                       pos=200, ts_ms=1700000002000),
        make_mysql_row(op="d", before={"id": 1, "v": "a"}, after=None,
                       pos=300, ts_ms=1700000003000),
    ]
    pipe = _pipeline(tmp_path)
    feed = _feed(tmp_path, "f1.json", lines)
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    query.processAllAvailable()
    query.stop()

    users = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    assert users.count() == 4
    # CDC last-image materialization (q07 semantics) over the written table
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("_binlog_pos_internal").desc())
    latest = (
        users.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("id", "_op", "v")
        .orderBy("id")
        .collect()
    )
    assert [(r["id"], r["_op"]) for r in latest] == [(1, "DELETE"), (2, "UPDATE")]

    # offset file: max (file,pos) over non-READ
    assert pipe.offset_store.read() == "mysql-bin.000001,300"
    # status file
    status = json.loads((tmp_path / "store" / "s1_status.json").read_text())
    assert status["record_count"] == 4
    assert status["last_event_timestamp"] == 1700000003000
    assert status["job_name"] == "JOB-s1"


def test_stream_structural_ddl_stops(spark, tmp_path):
    pipe = _pipeline(tmp_path)
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
            make_mysql_ddl(ddl="ALTER TABLE users ADD COLUMN x INT", pos=20),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    reason = pipe.run_until_stopped(query, timeout_s=60)
    assert reason and "structural DDL" in reason
    assert not query.isActive
    # the triggering batch still committed (flush-then-halt, README.md:26)
    users = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    assert users.count() == 1
    ddl_tbl = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb___testdb_ddl"))
    assert ddl_tbl.count() == 1


def test_stream_non_structural_ddl_continues(spark, tmp_path):
    pipe = _pipeline(tmp_path)
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
            make_mysql_ddl(ddl="CREATE INDEX i ON users (id)", pos=20),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    query.processAllAvailable()
    assert pipe.controller.stop_requested is False
    query.stop()


def test_snapshot_only_stops_on_first_non_read(spark, tmp_path):
    pipe = _pipeline(tmp_path, **{"snapshot.only": "true"})
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="r", after={"id": 1, "v": "a"}, snapshot="true", pos=1),
            make_mysql_row(op="r", after={"id": 2, "v": "b"}, snapshot="true", pos=2),
            make_mysql_row(op="c", after={"id": 3, "v": "c"}, pos=100),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    reason = pipe.run_until_stopped(query, timeout_s=60)
    assert reason and "snapshot complete" in reason


def test_resume_from_offset_file(spark, tmp_path):
    pipe = _pipeline(tmp_path)
    pipe.offset_store.write("mysql-bin.000001,200")
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=100),
            make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=200),
            make_mysql_row(op="c", after={"id": 3, "v": "c"}, pos=300),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt2"))
    query.processAllAvailable()
    query.stop()
    users = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    # resume replays the record AT the stored offset (at-least-once)
    assert sorted(r["id"] for r in users.collect()) == [2, 3]


def test_publish_batch_parquet_replay_idempotent(spark, tmp_path):
    """The exactly-once publish primitive (r14, VERDICT r13 item 6):
    re-publishing the SAME batch converges to exactly one copy through
    every crash window — complete prior promote (checkpoint never
    committed), partial promote (some b<id>- files missing), and a stray
    extra file from a duplicated attempt."""
    import shutil

    from flink_cdc_multi_spark.operators.routing import publish_batch_parquet

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "id long, v string, dt string",
    )
    publish_batch_parquet(df, table, 7)
    assert spark.read.parquet(table).count() == 3
    # window 1: complete promote, uncommitted checkpoint → full replay
    publish_batch_parquet(df, table, 7)
    assert spark.read.parquet(table).count() == 3
    # window 2: partial promote — delete one promoted file, replay heals
    import glob as _glob
    import os as _os

    files = _glob.glob(f"{table}/dt=*/b7-part-*")
    assert files, "promoted files must carry the b<batch>- prefix"
    _os.remove(files[0])
    publish_batch_parquet(df, table, 7)
    assert spark.read.parquet(table).count() == 3
    # window 3: stray duplicate file from a crashed attempt → deleted
    files = _glob.glob(f"{table}/dt=*/b7-part-*")
    shutil.copy(files[0], files[0].replace("b7-part-", "b7-part-zz"))
    publish_batch_parquet(df, table, 7)
    assert spark.read.parquet(table).count() == 3
    # a DIFFERENT batch appends (no cross-batch interference)
    publish_batch_parquet(df, table, 8)
    assert spark.read.parquet(table).count() == 6
    # hidden staging dirs never linger
    assert not _glob.glob(f"{table}/.staging_*")


def test_stream_kill_mid_batch_no_dup_no_loss(spark, tmp_path):
    """Kill-mid-batch e2e (r14, VERDICT r13 item 6): batch 0 commits;
    batch 1 PUBLISHES its data then the job dies before the checkpoint
    commit (the classic foreachBatch duplicate window — injected by
    raising after process_batch returns). A fresh pipeline on the same
    checkpoint replays batch 1 with the same epoch id; the batch-keyed
    publish deletes the orphaned b1- files and re-promotes, so the sink
    ends with NO duplicates and NO loss. A partial-promote crash is
    simulated on top by deleting one orphan file before the restart.
    (The offset file advanced past batch 1 before the crash; the pinned
    resume-offset sidecar keeps the replay unfiltered and identical —
    see test_offset_resume_batch0_crash_stays_filtered for the
    filtered-lineage twin.)"""
    import glob as _glob
    import os as _os

    pipe = _pipeline(tmp_path)
    feed = _feed(tmp_path, "f1.json", [
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=20),
    ])
    ckpt = str(tmp_path / "ckpt")
    query = pipe.start(spark, feed, ckpt)
    query.processAllAvailable()
    query.stop()
    table = str(tmp_path / "sink" / "s1_testdb__users")
    assert spark.read.parquet(table).count() == 2

    # batch 1: publish succeeds, then the job dies pre-commit
    pipe2 = _pipeline(tmp_path)
    orig = pipe2.process_batch

    def crash_after_publish(df, bid):
        orig(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash after publish, before commit")

    pipe2.process_batch = crash_after_publish
    _feed(tmp_path, "f2.json", [
        make_mysql_row(op="c", after={"id": 3, "v": "c"}, pos=30),
        make_mysql_row(op="c", after={"id": 4, "v": "d"}, pos=40),
    ])
    query2 = pipe2.start(spark, feed, ckpt)
    try:
        query2.processAllAvailable()
    except Exception:
        pass
    query2.stop()
    assert spark.read.parquet(table).count() == 4  # orphaned batch-1 rows
    # publish names are b<lineage>x<epoch>-part-*; pick BATCH 1's files
    # only (deleting a committed batch-0 file would be genuine data loss
    # the replay correctly never restores — an early version of this
    # filter did exactly that and flaked)
    orphans = [f for f in _glob.glob(f"{table}/dt=*/b*-part-*")
               if "x1-part-" in _os.path.basename(f)]
    assert orphans, "batch-1 publish should have landed before the crash"
    _os.remove(orphans[0])  # partial-promote crash on top

    # restart: same checkpoint → batch 1 replays under the same epoch id
    pipe3 = _pipeline(tmp_path)
    query3 = pipe3.start(spark, feed, ckpt)
    query3.processAllAvailable()
    query3.stop()
    users = spark.read.parquet(table)
    assert users.count() == 4  # no dup, no loss
    assert sorted(r["id"] for r in users.select("id").collect()) == [1, 2, 3, 4]
    assert pipe3.offset_store.read() == "mysql-bin.000001,40"


def test_offset_resume_batch0_crash_stays_filtered(spark, tmp_path):
    """r14 review finding: the resume-filter guard must key on commits/
    (written AFTER the batch), not the offsets/ WAL (written BEFORE) —
    otherwise a crash inside batch 0 of a fresh-checkpoint offset-file
    resume flips the filter off for the replay, which then re-publishes
    the batch UNFILTERED under the same key while the previous lineage's
    copies survive. With commits-keying, batch-0 replay content is
    attempt-invariant: the filtered rows, exactly once."""
    pipe = _pipeline(tmp_path)
    pipe.offset_store.write("mysql-bin.000001,200")
    feed = _feed(tmp_path, "f1.json", [
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=100),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=200),
        make_mysql_row(op="c", after={"id": 3, "v": "c"}, pos=300),
    ])
    orig = pipe.process_batch

    def crash(df, bid):
        orig(df, bid)
        raise RuntimeError("injected crash after publish, before commit")

    pipe.process_batch = crash
    ckpt = str(tmp_path / "ckpt")
    q = pipe.start(spark, feed, ckpt)
    try:
        q.processAllAvailable()
    except Exception:
        pass
    q.stop()
    table = str(tmp_path / "sink" / "s1_testdb__users")
    # the crashed attempt published the FILTERED batch (pos >= 200)
    assert sorted(r["id"] for r in spark.read.parquet(table).collect()) == [2, 3]

    pipe2 = _pipeline(tmp_path)
    q2 = pipe2.start(spark, feed, ckpt)
    q2.processAllAvailable()
    q2.stop()
    # replay is filtered IDENTICALLY (no commits yet -> filter reapplied)
    # and the batch-keyed publish dedups the crashed attempt
    assert sorted(r["id"] for r in spark.read.parquet(table).collect()) == [2, 3]


def test_crash_between_compaction_and_commit_no_dup(spark, tmp_path):
    """r14 review finding: maintenance compaction rewrites the table into
    plain part-* files, consuming the replayed batch's b<key>- markers —
    a crash between compaction and the epoch's checkpoint commit would
    re-promote that batch's rows next to the compacted image. The
    folded-key sidecar (written BEFORE the rewrite) makes the replayed
    batch SKIP its publish instead."""
    import glob as _glob

    cfg = {
        "compact.every.n.batches": 1,
        "table.key.columns": {"testdb.users": ["id"]},
    }
    pipe = _pipeline(tmp_path, **cfg)
    feed = _feed(tmp_path, "f1.json", [
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10,
                       ts_ms=1700000001000),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=20,
                       ts_ms=1700000002000),
    ])
    ckpt = str(tmp_path / "ckpt")
    q = pipe.start(spark, feed, ckpt)
    q.processAllAvailable()
    q.stop()
    table = str(tmp_path / "sink" / "s1_testdb__users")
    assert spark.read.parquet(table).count() == 2

    # batch 1 publishes, compaction folds it, then the job dies pre-commit
    pipe2 = _pipeline(tmp_path, **cfg)
    orig = pipe2.process_batch

    def crash(df, bid):
        orig(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash after compaction, before commit")

    pipe2.process_batch = crash
    _feed(tmp_path, "f2.json", [
        make_mysql_row(op="u", before={"id": 1, "v": "a"},
                       after={"id": 1, "v": "a2"}, pos=30,
                       ts_ms=1700000003000),
        make_mysql_row(op="d", before={"id": 2, "v": "b"}, after=None,
                       pos=40, ts_ms=1700000004000),
    ])
    q2 = pipe2.start(spark, feed, ckpt)
    try:
        q2.processAllAvailable()
    except Exception:
        pass
    q2.stop()
    # compaction folded batch 1: the table is the latest image, marker set
    import json as _json

    marker = _json.loads(open(table + "__folded.json").read())
    assert marker["folded_key"].endswith("x1")
    assert [(r["id"], r["v"], r["_op"]) for r in
            spark.read.parquet(table).collect()] == [(1, "a2", "UPDATE")]

    # restart: batch 1 replays; the marker makes its publish a no-op
    pipe3 = _pipeline(tmp_path, **cfg)
    q3 = pipe3.start(spark, feed, ckpt)
    q3.processAllAvailable()
    q3.stop()
    rows = [(r["id"], r["v"], r["_op"]) for r in
            spark.read.parquet(table).collect()]
    assert rows == [(1, "a2", "UPDATE")]  # no re-promoted duplicates
    assert not _glob.glob(f"{table}/dt=*/b*x1-part-*")


def test_stop_controller_ignores_non_target_ddl():
    ctl = StopController(snapshot_only=False, target_tables={"testdb.users"})
    ctl.on_ddl_rows([{"_db": "testdb", "_ddl": "DROP TABLE other", "_ddl_tbl": "other"}])
    assert ctl.stop_requested is False
    ctl.on_ddl_rows([{"_db": "testdb", "_ddl": "ALTER TABLE users DROP COLUMN v",
                      "_ddl_tbl": "users"}])
    assert ctl.stop_requested is True


def test_snapshot_only_waits_for_all_tables():
    """ST1: stop arms only when EVERY target table completed its snapshot
    (DelayedStopSignalProcessFunction.java:104-129)."""
    ctl = StopController(
        snapshot_only=True, target_tables={"testdb.users", "testdb.orders"}
    )
    ctl.on_batch_tables([("testdb.users", True)])  # users complete, orders not
    assert ctl.stop_requested is False
    ctl.on_batch_tables([("testdb.orders", False)])  # orders still snapshotting
    assert ctl.stop_requested is False
    ctl.on_batch_tables([("testdb.orders", True)])  # now both complete
    assert ctl.stop_requested is True
    assert "snapshot complete" in ctl.stop_reason


def test_snapshot_only_no_target_list_processed_equals_completed():
    ctl = StopController(snapshot_only=True, target_tables=None)
    ctl.on_batch_tables([("db.a", True), ("db.b", False)])
    assert ctl.stop_requested is False  # b processed but not completed
    ctl.on_batch_tables([("db.b", True)])
    assert ctl.stop_requested is True


def test_snapshot_only_post_completion_non_read_errors():
    import pytest as _pytest

    from flink_cdc_multi_spark.streaming.pipeline import SnapshotPhaseError

    ctl = StopController(snapshot_only=True, target_tables={"db.a"})
    ctl.on_batch_tables([("db.a", True)])
    assert ctl.snapshot_complete
    with _pytest.raises(SnapshotPhaseError):
        ctl.on_batch_tables([("db.a", True)])


def test_config_offset_value_wins_over_stored(spark, tmp_path):
    """configureOffset (FlinkCDCMulti.java:190-193) returns early when
    offset.value is set: a manual re-position must not be overridden by a
    stale offset file."""
    pipe = _pipeline(tmp_path, **{"offset.value": "mysql-bin.000001,100"})
    pipe.offset_store.write("mysql-bin.000001,300")  # stale stored offset
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=100),
            make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=200),
            make_mysql_row(op="c", after={"id": 3, "v": "c"}, pos=300),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt3"))
    query.processAllAvailable()
    query.stop()
    users = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    # config offset 100 -> replay from id=1, not just id=3
    assert sorted(r["id"] for r in users.collect()) == [1, 2, 3]


def test_stop_controller_state_survives_restart(spark, tmp_path):
    """The reference checkpoints ST1's per-table sets
    (DelayedStopSignalProcessFunction.java:41-56); a driver restart must
    not lose completions observed before the crash. Kill a snapshot-only
    job after one of two tables completed, resume, and the job stops
    exactly once — when the second table completes."""
    overrides = {
        "snapshot.only": "true",
        "source.table.list": "testdb.users,testdb.orders",
    }
    ORDERS = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )

    def mk_pipe():
        cfg = JobConfig.from_dict(
            {
                "source.id": "s1",
                "source.type": "mysql",
                "sink.path": str(tmp_path / "sink"),
                "offset.store.path": str(tmp_path / "store"),
                "checkpoint.interval": 1,
                **overrides,
            }
        )
        reg = TableRegistry.build(
            "mysql", {("testdb", "users"): USERS, ("testdb", "orders"): ORDERS}
        )
        return CDCPipeline(cfg, reg)

    # run 1: users completes its snapshot (READ then non-READ); orders only READs
    pipe1 = mk_pipe()
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="r", after={"id": 1, "v": "a"}, snapshot="true", pos=1),
            make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=100),
            make_mysql_row(table="orders", op="r", after={"id": 9, "v": "x"},
                           snapshot="true", pos=2),
        ],
    )
    q1 = pipe1.start(spark, feed, str(tmp_path / "ckpt_a"))
    q1.processAllAvailable()
    q1.stop()  # crash/kill: stop not yet armed (orders incomplete)
    assert pipe1.controller.stop_requested is False
    assert pipe1.controller.completed_tables == {"testdb.users"}

    # run 2 (fresh driver): only orders' completing op arrives
    pipe2 = mk_pipe()
    assert pipe2.controller.completed_tables == {"testdb.users"}  # restored
    (tmp_path / "feed" / "f2.json").write_text(
        make_mysql_row(table="orders", op="c", after={"id": 10, "v": "y"}, pos=200)
        + "\n"
    )
    q2 = pipe2.start(spark, feed, str(tmp_path / "ckpt_a"))
    reason = pipe2.run_until_stopped(q2, timeout_s=60)
    assert reason and "snapshot complete" in reason
    assert "testdb.orders" in reason and "testdb.users" in reason

    # run 3: already complete -> stops immediately on restore, no re-arm loop
    pipe3 = mk_pipe()
    assert pipe3.controller.stop_requested is True
    assert "restored" in pipe3.controller.stop_reason


def test_maintenance_compaction_every_n_batches(spark, tmp_path):
    """Rebuild improvement over the reference's never-compacting sink:
    every N batches the pipeline rewrites declared tables as their
    materialized latest image, so file counts stay bounded while
    latest_image parity (q07 semantics) holds over the compacted table."""
    import glob

    pipe = _pipeline(
        tmp_path,
        **{
            "compact.every.n.batches": 2,
            "table.key.columns": {"testdb.users": ["id"]},
        },
    )
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10,
                           ts_ms=1700000001000),
            make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=20,
                           ts_ms=1700000002000),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    query.processAllAvailable()
    # batch 2 lands updates + a delete, then triggers the compaction pass
    (tmp_path / "feed" / "f2.json").write_text(
        "\n".join(
            [
                make_mysql_row(op="u", before={"id": 1, "v": "a"},
                               after={"id": 1, "v": "a2"}, pos=30,
                               ts_ms=1700000003000),
                make_mysql_row(op="d", before={"id": 2, "v": "b"}, after=None,
                               pos=40, ts_ms=1700000004000),
            ]
        )
        + "\n"
    )
    query.processAllAvailable()
    query.stop()
    assert pipe.batches_processed == 2

    table_dir = str(tmp_path / "sink" / "s1_testdb__users")
    users = spark.read.parquet(table_dir)
    # compacted to the latest image: one live row, tombstone applied
    rows = [(r["id"], r["v"], r["_op"]) for r in users.collect()]
    assert rows == [(1, "a2", "UPDATE")]
    # the change log's four appended files collapsed to one per dt
    assert len(glob.glob(f"{table_dir}/dt=*/part-*.parquet")) == 1
    # offsets were committed before compaction ran
    assert pipe.offset_store.read() == "mysql-bin.000001,40"


# -- the batch body (control plane observed on the first write job) ---------


def test_onepass_unknown_table_skip_policy(spark, tmp_path):
    pipe = _pipeline(tmp_path, **{"fail.on.unknown.tables": "false"})
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
            make_mysql_row(table="ghost", op="c", after={"id": 9}, pos=20),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    query.processAllAvailable()
    query.stop()
    users = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    assert users.count() == 1
    assert not (tmp_path / "sink" / "s1_testdb__ghost").exists()
    # the skipped row still advanced the offset (it was observed)
    assert pipe.offset_store.read() == "mysql-bin.000001,20"


def test_onepass_unknown_table_fail_policy(spark, tmp_path):
    pipe = _pipeline(tmp_path)
    assert pipe.registry.fail_on_unknown_tables
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
            make_mysql_row(table="ghost", op="c", after={"id": 9}, pos=20),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="[Uu]nknown tables"):
        query.processAllAvailable()
    query.stop()


def test_onepass_multi_table_batch(spark, tmp_path):
    orders = T.StructType(
        [T.StructField("oid", T.LongType()), T.StructField("amt", T.DoubleType())]
    )
    pipe = _pipeline(
        tmp_path, tables={("testdb", "users"): USERS, ("testdb", "orders"): orders}
    )
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
            make_mysql_row(
                table="orders", op="c", after={"oid": 7, "amt": 9.5}, pos=20
            ),
            make_mysql_ddl(ddl="CREATE INDEX i ON users (id)", pos=30),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    query.processAllAvailable()
    query.stop()
    users = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    orders_out = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__orders"))
    ddl_out = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb___testdb_ddl"))
    assert [(r["id"], r["v"]) for r in users.collect()] == [(1, "a")]
    assert [(r["oid"], r["amt"]) for r in orders_out.collect()] == [(7, 9.5)]
    assert ddl_out.count() == 1 and pipe.controller.stop_requested is False
    assert pipe.offset_store.read() == "mysql-bin.000001,30"


def test_mixed_feed_lands_exact_rows(spark, tmp_path):
    """A READ, an insert, an update, a delete and a DDL in one batch land
    exactly these rows, offset and status (every column of both tables)."""
    lines = [
        make_mysql_row(op="r", after={"id": 1, "v": "a"}, snapshot="true", pos=1),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=100, ts_ms=1700000001000),
        make_mysql_row(op="u", before={"id": 2, "v": "b"}, after={"id": 2, "v": "c"},
                       pos=200, ts_ms=1700000002000),
        make_mysql_row(op="d", before={"id": 1, "v": "a"}, after=None,
                       pos=300, ts_ms=1700000003000),
        make_mysql_ddl(ddl="CREATE INDEX i ON users (id)", pos=400),
    ]
    pipe = _pipeline(tmp_path)
    query = pipe.start(spark, _feed(tmp_path, "f1.json", lines), str(tmp_path / "ckpt"))
    query.processAllAvailable()
    query.stop()

    def rows(name):
        df = spark.read.parquet(str(tmp_path / "sink" / name))
        cols = sorted(df.columns)
        return cols, sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    f, day = "mysql-bin.000001", "2023-11-14"
    assert rows("s1_testdb__users") == (
        ["_binlog_file_internal", "_binlog_pos_internal", "_op", "_ts", "dt", "id", "v"],
        [
            (f, "1", "READ", "1700000000000", day, "1", "a"),
            (f, "100", "INSERT", "1700000001000", day, "2", "b"),
            (f, "200", "UPDATE", "1700000002000", day, "2", "c"),
            (f, "300", "DELETE", "1700000003000", day, "1", "a"),
        ],
    )
    assert rows("s1_testdb___testdb_ddl") == (
        ["_binlog_file", "_binlog_pos_end", "_ddl", "_ddl_tbl", "_ts", "dt"],
        [(f, "400", "CREATE INDEX i ON users (id)", "users", "1700000000000", day)],
    )
    assert pipe.offset_store.read() == "mysql-bin.000001,400"
    status = json.loads((tmp_path / "store" / "s1_status.json").read_text())
    assert (status["record_count"], status["last_event_timestamp"]) == (5, 1700000003000)


def test_jobs_per_batch(spark, tmp_path):
    """One Spark job per active table: the control plane rides the first
    write. 1 table → 1 job; 24 tables with 2 active, the first registered
    among them → 2 jobs."""
    from flink_cdc_multi_spark.sources.debezium_json import decode_raw

    def jobs(sub, tables, lines):
        pipe = _pipeline(tmp_path / sub, tables=tables)
        env = decode_raw(spark.createDataFrame([(x,) for x in lines], "value string"),
                         "mysql")
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        j0 = dag.nextJobId()
        pipe.process_batch(env, 0)
        return dag.nextJobId() - j0

    one = [make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10)]
    assert jobs("one", None, one) == 1
    many = {("testdb", f"t{i}"): USERS for i in range(24)}
    two = [make_mysql_row(table=t, op="c", after={"id": i, "v": "a"}, pos=10 + i)
           for i, t in enumerate(["t0", "t7", "t0"])]
    assert jobs("many", many, two) == 2
    assert (tmp_path / "many" / "sink" / "s1_testdb__t7").exists()
    assert not (tmp_path / "many" / "sink" / "s1_testdb__t1").exists()


def test_schema_change_reversion_lifecycle(spark, tmp_path):
    """The reference's documented schema-evolution workflow (README.md:26,
    160): structural DDL halts the job (flush-then-stop); the operator
    re-versions the table — table.name.map to users_v2 with the NEW
    schema — repositions past the handled DDL (offset.value wins over the
    store), and restarts. New-schema rows land in the versioned directory;
    the frozen v1 table is untouched."""
    pipe1 = _pipeline(tmp_path)
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
            make_mysql_ddl(ddl="ALTER TABLE users ADD COLUMN extra INT", pos=20),
        ],
    )
    q1 = pipe1.start(spark, feed, str(tmp_path / "ckpt1"))
    reason = pipe1.run_until_stopped(q1, timeout_s=60)
    assert reason and "structural DDL" in reason
    assert pipe1.offset_store.read() == "mysql-bin.000001,20"
    v1_dir = str(tmp_path / "sink" / "s1_testdb__users")
    assert spark.read.parquet(v1_dir).count() == 1

    users_v2 = T.StructType(
        USERS.fields + [T.StructField("extra", T.LongType())]
    )
    cfg2 = JobConfig.from_dict(
        {
            "source.id": "s1",
            "source.type": "mysql",
            "sink.path": str(tmp_path / "sink"),
            "offset.store.path": str(tmp_path / "store"),
            "status.store.path": str(tmp_path / "store"),
            "checkpoint.interval": 1,
            "table.name.map": {"testdb.users": "users_v2"},
            # reposition PAST the handled schema-change event — otherwise
            # the at-least-once resume replays the DDL and re-arms the stop
            "offset.value": "mysql-bin.000001,21",
        }
    )
    reg2 = TableRegistry.build(
        "mysql",
        {("testdb", "users_v2"): users_v2},
        table_name_map=cfg2.table_name_map,
    )
    pipe2 = CDCPipeline(cfg2, reg2)
    (tmp_path / "feed" / "f2.json").write_text(
        make_mysql_row(op="c", after={"id": 2, "v": "b", "extra": 7}, pos=30) + "\n"
    )
    q2 = pipe2.start(spark, feed, str(tmp_path / "ckpt2"))
    q2.processAllAvailable()
    q2.stop()
    assert pipe2.controller.stop_requested is False
    v2 = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users_v2"))
    rows = [(r["id"], r["v"], r["extra"]) for r in v2.collect()]
    assert rows == [(2, "b", 7)]
    # v1 stays frozen; offset advanced past the new row
    assert spark.read.parquet(v1_dir).count() == 1
    assert pipe2.offset_store.read() == "mysql-bin.000001,30"


def test_mongo_stream_onepass_end_to_end(spark, tmp_path):
    """MongoDB source through the streaming batch body: change-stream
    shaped lines → typed per-collection parquet with _id/_txn_op_index
    meta, timestamp offset store, resume semantics."""
    import json as _json

    docs_schema = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("qty", T.LongType())]
    )

    def line(op, doc, ts_ms, oid, txn="1"):
        return _json.dumps(
            {
                "op": op,
                "ts_ms": ts_ms,
                "after": doc,
                "source": {"db": "shop", "collection": "items"},
                "_id": _json.dumps({"$oid": oid}),
                "txn_op_index": txn,
            }
        )

    cfg = JobConfig.from_dict(
        {
            "source.id": "m1",
            "source.type": "mongodb",
            "sink.path": str(tmp_path / "sink"),
            "offset.store.path": str(tmp_path / "store"),
            "status.store.path": str(tmp_path / "store"),
            "checkpoint.interval": 1,
            "mongodb.server.version": "6.0.0",
        }
    )
    reg = TableRegistry.build(
        "mongodb", {("shop", "items"): docs_schema}, with_ddl_tables=False
    )
    pipe = CDCPipeline(cfg, reg)
    feed = _feed(
        tmp_path,
        "f1.json",
        [
            line("c", {"name": "ax", "qty": 3}, 1000, "a" * 24),
            line("u", {"name": "ax", "qty": 5}, 2000, "a" * 24, txn="2"),
        ],
    )
    query = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    query.processAllAvailable()
    query.stop()
    out = spark.read.parquet(str(tmp_path / "sink" / "m1_shop__items"))
    rows = sorted(
        (r["name"], r["qty"], r["_op"], r["_id"], r["_txn_op_index"])
        for r in out.collect()
    )
    assert rows == [
        ("ax", 3, "INSERT", "a" * 24, "1"),
        ("ax", 5, "UPDATE", "a" * 24, "2"),
    ]
    # mongo offset = max non-READ _ts
    assert pipe.offset_store.read() == "2000"


def test_start_recovers_crashed_compaction_swap(spark, tmp_path):
    """A crash between compact_table's two renames leaves the table at
    `__old` and no live dir. start() must restore it BEFORE streaming
    appends recreate the live dir — otherwise the next compaction deletes
    `__old` (the entire pre-crash table) as a stale leftover."""
    import os

    pipe = _pipeline(
        tmp_path,
        **{
            "compact.every.n.batches": 1,
            "table.key.columns": {"testdb.users": ["id"]},
        },
    )
    # seed a pre-crash table, then simulate the mid-swap crash state
    table_dir = tmp_path / "sink" / "s1_testdb__users"
    feed = _feed(
        tmp_path,
        "f1.json",
        [make_mysql_row(op="c", after={"id": 1, "v": "precrash"}, pos=10,
                        ts_ms=1700000001000)],
    )
    q = pipe.start(spark, feed, str(tmp_path / "ckpt1"))
    q.processAllAvailable()
    q.stop()
    assert table_dir.exists()
    os.rename(table_dir, str(table_dir) + "__old")
    assert not table_dir.exists()

    # restart: recovery must rename __old back before the stream runs
    pipe2 = _pipeline(
        tmp_path,
        **{
            "compact.every.n.batches": 1,
            "table.key.columns": {"testdb.users": ["id"]},
        },
    )
    (tmp_path / "feed" / "f2.json").write_text(
        make_mysql_row(op="c", after={"id": 2, "v": "postcrash"}, pos=20,
                       ts_ms=1700000002000) + "\n"
    )
    q2 = pipe2.start(spark, feed, str(tmp_path / "ckpt2"))
    q2.processAllAvailable()
    q2.stop()
    vs = sorted(r["v"] for r in spark.read.parquet(str(table_dir)).collect())
    assert vs == ["postcrash", "precrash"]
    assert not (tmp_path / "sink" / "s1_testdb__users__old").exists()


def test_onepass_no_empty_dir_for_inactive_table(spark, tmp_path):
    """A registered table with no rows in the batch must not leave a
    schema-less (_SUCCESS-only) parquet dir behind — here the first
    registered table, which the batch's first write job publishes empty."""
    orders = T.StructType([T.StructField("oid", T.LongType())])
    pipe = _pipeline(
        tmp_path, tables={("testdb", "orders"): orders, ("testdb", "users"): USERS}
    )
    feed = _feed(
        tmp_path,
        "f1.json",
        [make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10)],
    )
    q = pipe.start(spark, feed, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert (tmp_path / "sink" / "s1_testdb__users").exists()
    assert not (tmp_path / "sink" / "s1_testdb__orders").exists()
    # the users table stays readable
    assert spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users")).count() == 1


def test_replay_convergence_property(spark, tmp_path):
    """At-least-once contract e2e (reference README.md:212-218): feeding the
    SAME event log twice with different file splits / listing orders / batch
    boundaries must converge — latest-image materialized state, SCD2
    history, and the offset file are all identical, because every reduction
    downstream of the feed is order-insensitive (max_by over the monotone
    offset; the offset store enforces monotone writes)."""
    import random

    events = [
        make_mysql_row(op="r", after={"id": 1, "v": "s1"}, snapshot="true", pos=1),
        make_mysql_row(op="r", after={"id": 2, "v": "s2"}, snapshot="true", pos=1),
        make_mysql_row(op="c", after={"id": 3, "v": "a"}, pos=100, ts_ms=1700000001000),
        make_mysql_row(op="u", before={"id": 3, "v": "a"}, after={"id": 3, "v": "b"},
                       pos=110, ts_ms=1700000002000),
        make_mysql_row(op="c", after={"id": 4, "v": "x"}, pos=120, ts_ms=1700000003000),
        make_mysql_row(op="d", before={"id": 1, "v": "s1"}, after=None,
                       pos=130, ts_ms=1700000004000),
        make_mysql_row(op="u", before={"id": 4, "v": "x"}, after={"id": 4, "v": "y"},
                       pos=140, ts_ms=1700000005000),
        make_mysql_row(op="u", before={"id": 4, "v": "y"}, after={"id": 4, "v": "z"},
                       pos=150, ts_ms=1700000006000),
        make_mysql_row(op="d", before={"id": 2, "v": "s2"}, after=None,
                       pos=160, ts_ms=1700000007000),
    ]

    def run(run_id: str, lines: list[str], n_files: int, seed: int):
        """One pipeline run over `lines` split into n_files shuffled files,
        one file per micro-batch (maxFilesPerTrigger=1) so batch boundaries
        differ run to run."""
        rng = random.Random(seed)
        shuffled = lines[:]
        rng.shuffle(shuffled)
        base = tmp_path / run_id
        feed = base / "feed"
        feed.mkdir(parents=True)
        for i in range(n_files):
            chunk = shuffled[i::n_files]
            if chunk:
                (feed / f"f{rng.random():.6f}.json").write_text("\n".join(chunk) + "\n")
        cfg_dir = base
        pipe = _pipeline(cfg_dir)
        query = pipe.start(spark, str(feed), str(base / "ckpt"), max_files_per_trigger=1)
        query.processAllAvailable()
        query.stop()
        users = spark.read.parquet(str(base / "sink" / "s1_testdb__users"))
        latest = sorted(
            (r["id"], r["_op"], r["v"])
            for r in users.groupBy("id")
            .agg(
                F.max_by("_op", "_binlog_pos_internal").alias("_op"),
                F.max_by("v", "_binlog_pos_internal").alias("v"),
            )
            .collect()
        )
        # SCD2 history over the written log: version bounds from the
        # monotone binlog position (same shape as ext_cdc_scd2)
        w = Window.partitionBy("id").orderBy("_binlog_pos_internal")
        nxt = F.lead("_binlog_pos_internal", 1).over(w)
        scd2 = sorted(
            tuple(r)
            for r in users.dropDuplicates(["id", "_binlog_pos_internal"])
            .select(
                "id",
                F.col("_binlog_pos_internal").alias("valid_from"),
                nxt.alias("valid_to"),
                "_op",
                "v",
            )
            .collect()
        )
        return latest, scd2, pipe.offset_store.read()

    from pyspark.sql import Window

    results = [
        run("r1", events, n_files=1, seed=7),
        run("r2", events, n_files=3, seed=11),
        run("r3", events, n_files=5, seed=13),
    ]
    latest0, scd20, offset0 = results[0]
    assert offset0 == "mysql-bin.000001,160"
    # deletes carry the BEFORE image (envelope image pick)
    assert (1, "DELETE", "s1") in latest0 and (4, "UPDATE", "z") in latest0
    for latest, scd2, offset in results[1:]:
        assert latest == latest0
        assert scd2 == scd20
        assert offset == offset0


def test_invalid_ddl_blank_identity_hard_fails(spark, tmp_path):
    """Reference parity (MySQLDebeziumToJSONDeserializer.java:56-67): a
    DDL event whose database or table identity is blank is unresolvable
    schema history — the job must fail loudly for manual intervention,
    never route the DDL to nowhere."""
    import json as _json

    from flink_cdc_multi_spark.streaming.pipeline import InvalidDDLError, StopController

    ctl = StopController(snapshot_only=False)
    with pytest.raises(InvalidDDLError, match="INVALID DDL"):
        ctl.on_ddl_rows(
            [{"_db": "testdb", "_ddl": "ALTER TABLE x ADD COLUMN y INT", "_ddl_tbl": "  "}]
        )
    with pytest.raises(InvalidDDLError):
        ctl.on_ddl_rows(
            [{"_db": None, "_ddl": "DROP TABLE z", "_ddl_tbl": "z"}]
        )


def test_ts_falls_back_to_source_ts(spark):
    """ts precedence: envelope ts_ms, then source.ts_ms (the reference's
    DDL-branch fallback), then wall clock for < 1 values."""
    import json as _json

    from flink_cdc_multi_spark.sources.debezium_json import decode_raw

    line = _json.dumps(
        {
            "ddl": "CREATE INDEX i ON users (id)",
            "source": {"db": "testdb", "table": "users", "ts_ms": 1700000009000,
                       "file": "b.1", "pos": 5},
        }
    )
    df = spark.createDataFrame([(line,)], "value string")
    assert decode_raw(df, "mysql").first()["_ts"] == 1700000009000


def test_staging_sweep_is_age_gated(spark, tmp_path):
    """ADVICE r14 (medium): the start()-time sweep must not delete a
    FRESH staging dir — it may belong to a concurrently running
    pipeline sharing the sink (a scenario the lineage/instance tags
    exist to support); deleting it made the victim's promote silently
    publish zero rows while still committing its offset. Only dirs older
    than the age gate are orphans."""
    import os as _os

    pipe = _pipeline(tmp_path)
    table = tmp_path / "sink" / "s1_testdb__users"
    fresh = table / ".staging_bdeadbeefx3"
    old = table / ".staging_bfeedfacex7"
    fresh.mkdir(parents=True)
    old.mkdir(parents=True)
    past = time.time() - 7200  # 2 h > the 1 h default gate
    _os.utime(old, (past, past))
    pipe._sweep_stale_staging(spark)
    assert fresh.is_dir(), "fresh staging (live concurrent batch) was swept"
    assert not old.exists(), "old orphaned staging survived the sweep"


def test_promote_fails_loudly_when_staging_vanishes(spark, tmp_path):
    """ADVICE r14 (medium), second half: if staging is gone at promote
    time (external sweep/rm), the batch must FAIL, not publish zero rows
    and commit its offset."""
    from flink_cdc_multi_spark.operators.routing import _promote_staging

    table = str(tmp_path / "t")
    with pytest.raises(IOError, match="staging dir vanished"):
        _promote_staging(spark, table, f"{table}/.staging_b9", 9)


def test_publish_tag_fallback_is_unique_per_lineage(tmp_path):
    """ADVICE r14: when the checkpoint's metadata file is unreadable, the
    fallback publish tag must be (a) stable across restarts of the SAME
    checkpoint (replay dedup) and (b) DIFFERENT for a fresh checkpoint
    recreated at the same path — an md5(path) tag made the new lineage's
    batch 0 delete the old lineage's b<tag>x0- files."""
    import shutil as _shutil

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()  # no `metadata` file → fallback path

    def tag_of():
        pipe = _pipeline(tmp_path)
        pipe._ckpt_dir = str(ckpt)
        return pipe._batch_key(0)

    first = tag_of()
    assert tag_of() == first, "tag not stable across restarts of one lineage"
    _shutil.rmtree(ckpt)
    ckpt.mkdir()  # fresh checkpoint at the SAME path = new lineage
    assert tag_of() != first, "recreated checkpoint reused the old lineage tag"


def test_folded_marker_retired_by_later_same_lineage_epoch(spark, tmp_path):
    """ADVICE r14: the __folded.json compaction marker must not live
    forever. A later epoch of the SAME lineage proves the folded epoch's
    checkpoint committed (foreachBatch is serial), so its publish clears
    the marker; a foreign lineage's publish proves nothing and leaves it."""
    import glob as _glob
    import json as _json

    from flink_cdc_multi_spark.operators.routing import (
        _marker_retired_by,
        publish_batch_parquet,
    )

    assert _marker_retired_by("abcdx1", "abcdx2")
    assert not _marker_retired_by("abcdx2", "abcdx1")  # replay of folded epoch
    assert not _marker_retired_by("abcdx1", "otherx9")  # foreign lineage
    assert not _marker_retired_by("abcdx1", "7")  # legacy int key
    assert not _marker_retired_by("garbage", "abcdx2")

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", "2024-01-01")], "id long, v string, dt string")
    publish_batch_parquet(df, table, "abcdx1")
    marker = table + "__folded.json"
    open(marker, "w").write(_json.dumps({"folded_key": "abcdx1"}))
    # foreign lineage publish: marker untouched
    publish_batch_parquet(df, table, "otherx5")
    assert _json.loads(open(marker).read())["folded_key"] == "abcdx1"
    # replay of the folded epoch still skips (marker intact above)
    publish_batch_parquet(df, table, "abcdx1")
    assert _glob.glob(f"{table}/dt=*/babcdx1-part-*"), "folded-epoch files lost"
    # later epoch of the same lineage retires the marker and publishes
    publish_batch_parquet(df, table, "abcdx2")
    assert not _os_exists(marker)
    assert spark.read.parquet(table).count() == 3


def _os_exists(p):
    import os

    return os.path.exists(p)


def test_remove_if_dataless_drops_sibling_marker(spark, tmp_path):
    """ADVICE r14: deleting a dataless table dir must delete its sibling
    __folded.json too — otherwise the marker is permanent orphan state."""
    import json as _json

    pipe = _pipeline(tmp_path)
    table = tmp_path / "sink" / "s1_testdb__users"
    table.mkdir(parents=True)
    (table / "_SUCCESS").write_text("")
    marker = str(table) + "__folded.json"
    open(marker, "w").write(_json.dumps({"folded_key": "abcdx1"}))
    spec = pipe.registry.specs["testdb.users"]
    pipe._remove_if_dataless(spark, spec)
    assert not table.exists()
    assert not _os_exists(marker)


def test_publish_mode_selection(monkeypatch):
    """Object-store schemes take the manifest path by default; local/HDFS
    keep rename promote; the env override wins for tests/ops."""
    from flink_cdc_multi_spark.operators.routing import _publish_mode

    monkeypatch.delenv("SPARK_GRAFT_PUBLISH_MODE", raising=False)
    assert _publish_mode("s3a://bucket/t") == "manifest"
    assert _publish_mode("gs://bucket/t") == "manifest"
    assert _publish_mode("abfss://c@a.dfs.core.windows.net/t") == "manifest"
    assert _publish_mode("/local/t") == "rename"
    assert _publish_mode("hdfs://nn/t") == "rename"
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    assert _publish_mode("/local/t") == "manifest"
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "rename")
    assert _publish_mode("s3a://bucket/t") == "rename"


def test_manifest_publish_exactly_once(spark, tmp_path, monkeypatch):
    """Manifest-commit publish (r15, VERDICT r14 item 3): visibility is
    ONE atomic manifest write — zero data renames. Every crash window
    converges on replay: uncommitted batch dirs are invisible, replay
    rewrites the dir and re-points the manifest."""
    import glob as _glob
    import os as _os

    from flink_cdc_multi_spark.operators.routing import (
        publish_batch_parquet,
        read_published,
    )

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "id long, v string, dt string",
    )
    publish_batch_parquet(df, table, "aax1")
    assert read_published(spark, table).count() == 3
    # the batch dir is hidden: a plain reader sees no data files at the root
    assert not _glob.glob(f"{table}/part-*") and not _glob.glob(f"{table}/dt=*")
    # window 1: full replay (post-manifest, pre-checkpoint crash)
    publish_batch_parquet(df, table, "aax1")
    assert read_published(spark, table).count() == 3
    # window 2: data written, manifest missing (pre-manifest crash) —
    # the batch is INVISIBLE until replay re-points the manifest
    _os.remove(f"{table}/_manifests/baax1.json")
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        # zero committed batches = unreadable table, same as a plain
        # parquet dir holding only _SUCCESS — the uncommitted dir is invisible
        read_published(spark, table).count()
    publish_batch_parquet(df, table, "aax1")
    assert read_published(spark, table).count() == 3
    # a different batch appends; replay of it converges too
    publish_batch_parquet(df, table, "aax2")
    publish_batch_parquet(df, table, "aax2")
    assert read_published(spark, table).count() == 6
    # mixed-mode dir: a rename-promoted batch unions in with dt aligned
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "rename")
    publish_batch_parquet(df, table, "aax3")
    got = read_published(spark, table)
    assert got.count() == 9
    assert dict(got.dtypes)["dt"] == "string"


def test_manifest_publish_fails_loudly_when_batch_dir_vanishes(
    spark, tmp_path, monkeypatch
):
    """VERDICT r15 item 4 (first window): if the just-written batch dir is
    deleted between the write and the part-file glob (the age-gated
    concurrent-pipeline sweep window), committing {\"files\": []} would be
    SILENT LOSS while the checkpoint still advances. Parity with
    _promote_staging's vanished-staging IOError. Spark writes a part file
    even for a zero-row batch (probed), so an empty glob here always
    means external deletion."""
    import glob as _glob

    from flink_cdc_multi_spark.operators.routing import publish_batch_parquet

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", "2024-01-01")], "id long, v string, dt string")
    # simulate the sweep racing us: the batch dir's glob comes back empty
    real_glob = _glob.glob

    def raced(pat, *a, **kw):
        if "/.batches/" in pat and pat.endswith("part-*"):
            return []
        return real_glob(pat, *a, **kw)

    monkeypatch.setattr(_glob, "glob", raced)
    with pytest.raises(IOError, match="batch dir vanished"):
        publish_batch_parquet(df, table, "vvx1")
    import json as _json
    import os as _os

    assert not _os.path.exists(f"{table}/_manifests/bvvx1.json")
    # and the happy path still commits a non-empty manifest
    monkeypatch.setattr(_glob, "glob", real_glob)
    publish_batch_parquet(df, table, "vvx1")
    doc = _json.loads(open(f"{table}/_manifests/bvvx1.json").read())
    assert doc["files"]


def test_read_published_sees_flat_leg_under_dot_ancestor(spark, tmp_path):
    """VERDICT r15 item 4 (second window): visible() filtered on '/.'
    anywhere in the FULL path, so a table under a dot-prefixed ANCESTOR
    dir (s3a://bucket/.warehouse/t) lost its entire flat (rename/legacy)
    leg from every read — and compact_table reads through read_published,
    so compaction would have rewritten the table WITHOUT those rows. Only
    components BELOW table_path may hide files."""
    from flink_cdc_multi_spark.operators.cdc import compact_table
    from flink_cdc_multi_spark.operators.routing import (
        publish_batch_parquet,
        read_published,
    )

    wh = tmp_path / ".warehouse"
    wh.mkdir()
    # file:// scheme forces the Hadoop-FS branch where visible() lives
    table = f"file://{wh}/t"
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "id long, v string, dt string",
    )
    import os as _os

    _os.environ["SPARK_GRAFT_PUBLISH_MODE"] = "rename"
    try:
        publish_batch_parquet(df.withColumn("_op", F.lit("INSERT"))
                              .withColumn("_ts", F.lit(1)), table, "dax1")
        got = read_published(spark, table)
        assert sorted(r["id"] for r in got.collect()) == [1, 2]
        # r16 review: an UNNORMALIZED caller path (double slash) must not
        # defeat the suffix test — base is derived through the same
        # Hadoop Path normalizer the file statuses use
        messy = f"file://{wh}//t"
        assert sorted(
            r["id"] for r in read_published(spark, messy).collect()
        ) == [1, 2]
        # dot-prefixed components BELOW the table still hide (staging)
        n = compact_table(spark, table, ["id"], ["_ts"])
        assert n == 2
        assert sorted(
            r["id"] for r in read_published(spark, table).collect()
        ) == [1, 2]
    finally:
        _os.environ.pop("SPARK_GRAFT_PUBLISH_MODE", None)


def test_compaction_folds_manifest_batches(spark, tmp_path, monkeypatch):
    """compact_table must resolve manifest-committed batches (hidden from
    a plain dir read) — otherwise the swap discards their rows with the
    manifests. After compaction everything is flat dt= layout."""
    import glob as _glob

    from flink_cdc_multi_spark.operators.cdc import compact_table
    from flink_cdc_multi_spark.operators.routing import (
        publish_batch_parquet,
        read_published,
    )

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    table = str(tmp_path / "t")
    rows1 = [(1, "a", "INSERT", 100, "2024-01-01"), (2, "b", "INSERT", 110, "2024-01-01")]
    rows2 = [(1, "a2", "UPDATE", 200, "2024-01-01"), (2, "b", "DELETE", 210, "2024-01-01")]
    schema = "id long, v string, _op string, _ts long, dt string"
    publish_batch_parquet(spark.createDataFrame(rows1, schema), table, "ccx1")
    publish_batch_parquet(spark.createDataFrame(rows2, schema), table, "ccx2")
    n = compact_table(spark, table, ["id"], ["_ts"])
    assert n == 1
    assert not _glob.glob(f"{table}/_manifests/*")  # folded away by the swap
    got = [(r["id"], r["v"]) for r in read_published(spark, table).collect()]
    assert got == [(1, "a2")]


def test_sweep_removes_old_unmanifested_batch_dirs(spark, tmp_path):
    """Manifest-mode orphan hygiene: an UNMANIFESTED batch dir older than
    the age gate is a crashed uncommitted attempt and gets swept; a
    manifested dir is committed DATA and survives at any age."""
    import json as _json
    import os as _os

    pipe = _pipeline(tmp_path)
    table = tmp_path / "sink" / "s1_testdb__users"
    committed = table / ".batches" / "bddx1"
    orphan = table / ".batches" / "bddx2"
    committed.mkdir(parents=True)
    orphan.mkdir(parents=True)
    mdir = table / "_manifests"
    mdir.mkdir()
    (mdir / "bddx1.json").write_text(_json.dumps({"files": []}))
    past = time.time() - 7200
    for d in (committed, orphan):
        _os.utime(d, (past, past))
    pipe._sweep_stale_staging(spark)
    assert committed.is_dir(), "committed (manifested) batch dir was swept"
    assert not orphan.exists(), "old unmanifested batch dir survived"


def test_stream_kill_mid_batch_manifest_mode(spark, tmp_path, monkeypatch):
    """The manifest-mode twin of test_stream_kill_mid_batch_no_dup_no_loss
    (r15, VERDICT r14 item 3): batch 1 writes its batch dir AND commits
    its manifest, then the job dies before the checkpoint commit. The
    replay rewrites the batch dir and re-points the manifest — the sink
    converges with no duplicates and no loss, with zero data renames in
    any window. A pre-manifest crash is simulated on top by deleting the
    manifest before restart (batch invisible until the replay restores
    it)."""
    import os as _os

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    from flink_cdc_multi_spark.operators.routing import read_published

    pipe = _pipeline(tmp_path)
    feed = _feed(tmp_path, "f1.json", [
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=20),
    ])
    ckpt = str(tmp_path / "ckpt")
    query = pipe.start(spark, feed, ckpt)
    query.processAllAvailable()
    query.stop()
    table = str(tmp_path / "sink" / "s1_testdb__users")
    assert read_published(spark, table).count() == 2

    pipe2 = _pipeline(tmp_path)
    orig = pipe2.process_batch

    def crash_after_publish(df, bid):
        orig(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash after publish, before commit")

    pipe2.process_batch = crash_after_publish
    _feed(tmp_path, "f2.json", [
        make_mysql_row(op="c", after={"id": 3, "v": "c"}, pos=30),
        make_mysql_row(op="c", after={"id": 4, "v": "d"}, pos=40),
    ])
    query2 = pipe2.start(spark, feed, ckpt)
    try:
        query2.processAllAvailable()
    except Exception:
        pass
    query2.stop()
    assert read_published(spark, table).count() == 4  # manifested pre-crash
    # pre-manifest crash on top: drop batch 1's manifest — its rows go
    # invisible until the replay re-commits them
    manifests = _os.listdir(f"{table}/_manifests")
    b1 = [m for m in manifests if m.endswith("x1.json")]
    assert b1, f"batch-1 manifest missing from {manifests}"
    _os.remove(f"{table}/_manifests/{b1[0]}")
    assert read_published(spark, table).count() == 2

    pipe3 = _pipeline(tmp_path)
    query3 = pipe3.start(spark, feed, ckpt)
    query3.processAllAvailable()
    query3.stop()
    users = read_published(spark, table)
    assert users.count() == 4
    assert sorted(r["id"] for r in users.select("id").collect()) == [1, 2, 3, 4]
    assert pipe3.offset_store.read() == "mysql-bin.000001,40"


def test_compaction_crash_replay_manifest_mode(spark, tmp_path, monkeypatch):
    """Manifest-mode twin of test_crash_between_compaction_and_commit_no_dup:
    compaction's whole-dir swap folds manifest-committed batches into the
    flat layout (read through read_published), the folded-key marker still
    makes the replayed batch skip its publish, and later manifest batches
    union back in over the compacted base."""
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    from flink_cdc_multi_spark.operators.routing import read_published

    cfg = {
        "compact.every.n.batches": 1,
        "table.key.columns": {"testdb.users": ["id"]},
    }
    pipe = _pipeline(tmp_path, **cfg)
    feed = _feed(tmp_path, "f1.json", [
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10,
                       ts_ms=1700000001000),
        make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=20,
                       ts_ms=1700000002000),
    ])
    ckpt = str(tmp_path / "ckpt")
    q = pipe.start(spark, feed, ckpt)
    q.processAllAvailable()
    q.stop()
    table = str(tmp_path / "sink" / "s1_testdb__users")
    assert read_published(spark, table).count() == 2

    pipe2 = _pipeline(tmp_path, **cfg)
    orig = pipe2.process_batch

    def crash(df, bid):
        orig(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash after compaction, before commit")

    pipe2.process_batch = crash
    _feed(tmp_path, "f2.json", [
        make_mysql_row(op="u", before={"id": 1, "v": "a"},
                       after={"id": 1, "v": "a2"}, pos=30,
                       ts_ms=1700000003000),
        make_mysql_row(op="d", before={"id": 2, "v": "b"}, after=None,
                       pos=40, ts_ms=1700000004000),
    ])
    q2 = pipe2.start(spark, feed, ckpt)
    try:
        q2.processAllAvailable()
    except Exception:
        pass
    q2.stop()
    assert [(r["id"], r["v"], r["_op"]) for r in
            read_published(spark, table).collect()] == [(1, "a2", "UPDATE")]

    # restart: batch 1 replays; marker no-ops its publish; no duplicates
    pipe3 = _pipeline(tmp_path, **cfg)
    q3 = pipe3.start(spark, feed, ckpt)
    q3.processAllAvailable()
    q3.stop()
    rows = [(r["id"], r["v"], r["_op"]) for r in
            read_published(spark, table).collect()]
    assert rows == [(1, "a2", "UPDATE")]


def test_replay_under_flipped_publish_mode_converges(spark, tmp_path, monkeypatch):
    """r15 review: a batch replayed under a DIFFERENT publish mode than
    its crashed attempt must clean the other mode's copy — each path
    deletes the other layout's artifacts for its batch key, so the epoch
    is published exactly once in whichever mode ran last."""
    from flink_cdc_multi_spark.operators.routing import (
        publish_batch_parquet,
        read_published,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "id long, v string, dt string",
    )
    # attempt 1: manifest mode; crash before checkpoint commit
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    publish_batch_parquet(df, table, "ffx1")
    assert read_published(spark, table).count() == 2
    # replay under rename mode: must NOT double-publish
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "rename")
    publish_batch_parquet(df, table, "ffx1")
    assert read_published(spark, table).count() == 2
    # flip back: replay under manifest again — still exactly once
    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    publish_batch_parquet(df, table, "ffx1")
    assert read_published(spark, table).count() == 2


def test_remove_if_dataless_ignores_unmanifested_batch_parts(spark, tmp_path):
    """r15 review: part files inside an UNMANIFESTED .batches dir are a
    crashed uncommitted attempt, not data — a dataless table dir holding
    only those must still be removed (the staging-dir rule extended to
    manifest mode), along with its sibling __folded.json."""
    import json as _json

    pipe = _pipeline(tmp_path)
    table = tmp_path / "sink" / "s1_testdb__users"
    orphan = table / ".batches" / "bzzx9"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"not really parquet")
    (table / "_SUCCESS").write_text("")
    marker = str(table) + "__folded.json"
    open(marker, "w").write(_json.dumps({"folded_key": "bzzx9"}))
    spec = pipe.registry.specs["testdb.users"]
    pipe._remove_if_dataless(spark, spec)
    assert not table.exists()
    import os as _os

    assert not _os.path.exists(marker)
    # and a MANIFESTED batch dir keeps the table alive
    table2 = tmp_path / "sink2"
    pipe2 = _pipeline(tmp_path)
    t2 = tmp_path / "sink" / "s1_testdb__users"
    live = t2 / ".batches" / "baax1"
    live.mkdir(parents=True)
    (live / "part-00000.parquet").write_bytes(b"x")
    m = t2 / "_manifests"
    m.mkdir(parents=True)
    (m / "baax1.json").write_text(_json.dumps({"files": [".batches/baax1/part-00000.parquet"]}))
    pipe2._remove_if_dataless(spark, spec)
    assert t2.exists(), "manifested batch data wrongly classified as non-data"


def test_read_published_dt_range_prunes_batches(spark, tmp_path, monkeypatch):
    """Manifest dt-range stats (r15): each manifest records its batch's
    [dt_min, dt_max] (an Observation riding the write job — no extra
    job), and read_published(dt_min, dt_max) prunes non-overlapping
    batches driver-side while still applying the dt predicate exactly.
    Manifests without stats are read (fail open)."""
    import json as _json

    from flink_cdc_multi_spark.operators.routing import (
        publish_batch_parquet,
        read_published,
    )

    monkeypatch.setenv("SPARK_GRAFT_PUBLISH_MODE", "manifest")
    table = str(tmp_path / "t")
    jan = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-15")], "id long, v string, dt string"
    )
    mar = spark.createDataFrame(
        [(3, "c", "2024-03-01"), (4, "d", "2024-03-09")], "id long, v string, dt string"
    )
    publish_batch_parquet(jan, table, "ppx1")
    publish_batch_parquet(mar, table, "ppx2")
    m1 = _json.loads(open(f"{table}/_manifests/bppx1.json").read())
    assert (m1["dt_min"], m1["dt_max"]) == ("2024-01-01", "2024-01-15")

    got = read_published(spark, table, dt_min="2024-03-01")
    assert sorted(r["id"] for r in got.collect()) == [3, 4]
    # driver-side pruning: the January batch's files are not in the plan
    files = got.inputFiles()
    assert files and all("bppx2" in f for f in files)
    # in-batch residue still filtered exactly (batch overlaps, row outside)
    got2 = read_published(spark, table, dt_min="2024-01-10", dt_max="2024-02-28")
    assert sorted(r["id"] for r in got2.collect()) == [2]
    # range with no data: empty frame in the table's schema, not an error
    assert read_published(spark, table, dt_min="2025-01-01").count() == 0
    # fail open: a stats-less manifest (older vintage) is always read
    doc = _json.loads(open(f"{table}/_manifests/bppx1.json").read())
    doc.pop("dt_min"), doc.pop("dt_max")
    open(f"{table}/_manifests/bppx1.json", "w").write(_json.dumps(doc))
    got3 = read_published(spark, table, dt_min="2024-03-01")
    assert sorted(r["id"] for r in got3.collect()) == [3, 4]


def test_dedup_redelivery_suppress_knob(spark, tmp_path):
    """dedup.redelivery.suppress=true (r15): a byte-identical redelivered
    event (same source offsets/content, e.g. a re-produced Kafka record
    or a replayed feed file) reaches the sink exactly once; distinct
    events — including two inserts of identical row VALUES at different
    binlog positions — all pass. Off by default (the knob costs a digest
    exchange per batch)."""
    dup = make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10,
                         ts_ms=1700000001000)
    twin_values = make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=20,
                                 ts_ms=1700000002000)  # distinct event, same values
    other = make_mysql_row(op="c", after={"id": 2, "v": "b"}, pos=30,
                           ts_ms=1700000003000)

    pipe = _pipeline(tmp_path, **{"dedup.redelivery.suppress": "true"})
    feed = _feed(tmp_path, "f1.json", [dup, twin_values])
    ckpt = str(tmp_path / "ckpt")
    q = pipe.start(spark, feed, ckpt)
    q.processAllAvailable()
    # a second feed file REDELIVERS the first event verbatim + a new one
    _feed(tmp_path, "f2.json", [dup, other])
    q.processAllAvailable()
    q.stop()
    table = str(tmp_path / "sink" / "s1_testdb__users")
    rows = spark.read.parquet(table)
    got = sorted((r["id"], r["_binlog_pos_internal"]) for r in rows.collect())
    # dup kept once (pos 10), twin-values kept (pos 20: different offset =
    # different event), other kept — redelivery suppressed
    assert got == [(1, "10"), (1, "20"), (2, "30")] or got == [
        (1, 10), (1, 20), (2, 30)
    ], got
    assert rows.count() == 3


def test_dedup_redelivery_ddl_bypasses_suppression(spark, tmp_path):
    """r16 (ADVICE r15): POSITION-LESS DDL rows BYPASS redelivery
    suppression — null source offsets (the class resume_filter
    deliberately passes) mean a legitimate recurrence is
    content-identical, and suppressing it would silently drop a real
    schema-history event. POSITIONED DDL stays on the dedup leg (r16
    review): its offsets are part of the identity, so a redelivered copy
    is a genuine duplicate and must land ONCE. Data-row suppression keeps
    working alongside."""
    ddl = make_mysql_ddl(
        ddl="CREATE INDEX i ON users (id)", ts_ms=None, file=None, pos=None
    )
    pos_ddl = make_mysql_ddl(ddl="CREATE INDEX j ON users (v)", pos=15)
    row = make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10,
                         ts_ms=1700000001000)

    pipe = _pipeline(tmp_path, **{"dedup.redelivery.suppress": "true"})
    feed = _feed(tmp_path, "f1.json", [ddl, pos_ddl, row])
    ckpt = str(tmp_path / "ckpt")
    q = pipe.start(spark, feed, ckpt)
    q.processAllAvailable()
    # identical position-less DDL + REDELIVERED positioned DDL + data row
    _feed(tmp_path, "f2.json", [ddl, pos_ddl, row])
    q.processAllAvailable()
    q.stop()
    ddl_out = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb___testdb_ddl"))
    per_stmt = {r["_ddl"]: r["n"] for r in
                ddl_out.groupBy("_ddl").agg(F.count("*").alias("n")).collect()}
    # position-less copies both pass; the positioned redelivery is suppressed
    assert per_stmt == {"CREATE INDEX i ON users (id)": 2,
                        "CREATE INDEX j ON users (v)": 1}, per_stmt
    data = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__users"))
    assert data.count() == 1  # the redelivered data row is still suppressed


def test_dedup_redelivery_ttl_config():
    """r16 (VERDICT r15 item 3): the suppression horizon is
    required-or-defaulted — default 7 days (Kafka's default retention),
    explicit values plumb through, non-positive/non-integer rejected
    loudly (unbounded state is not offered)."""
    import pytest as _pytest

    from flink_cdc_multi_spark.config import ConfigError, JobConfig

    base = {"source.id": "s1", "source.type": "mysql", "sink.path": "/tmp/x"}
    assert JobConfig.from_dict(dict(base)).dedup_redelivery_ttl_minutes == 10080
    assert JobConfig.from_dict(
        {**base, "dedup.redelivery.ttl.minutes": "90"}
    ).dedup_redelivery_ttl_minutes == 90
    with _pytest.raises(ConfigError, match="ttl.minutes must be >= 1"):
        JobConfig.from_dict({**base, "dedup.redelivery.ttl.minutes": 0})
    with _pytest.raises(ConfigError, match="must be an integer"):
        JobConfig.from_dict({**base, "dedup.redelivery.ttl.minutes": "week"})
