"""applyInPandasWithState operator: per-key running status across
micro-batches (state survives between triggers)."""

from conftest import make_mysql_row

from flink_cdc_multi_spark.sources.debezium_json import decode_raw
from flink_cdc_multi_spark.streaming.stateful import running_status_by_key


def test_running_status_state_across_batches(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.json").write_text(
        "\n".join(
            [
                make_mysql_row(op="c", after={"id": 1}, pos=10, ts_ms=1000),
                make_mysql_row(op="c", after={"id": 2}, pos=20, ts_ms=2000),
            ]
        )
    )
    stream = decode_raw(
        spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(str(feed)),
        "mysql",
    )
    status = running_status_by_key(stream, "_tbl", "_binlog_pos_end")
    q = (
        status.writeStream.format("memory")
        .queryName("running_status")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    first = {r["key"]: r for r in spark.sql("SELECT * FROM running_status").collect()}
    assert first["users"]["record_count"] == 2
    assert first["users"]["max_offset"] == 20

    # second batch: state must ACCUMULATE (3 total), not restart
    (feed / "f2.json").write_text(
        make_mysql_row(op="u", before={"id": 1}, after={"id": 1}, pos=30, ts_ms=3000)
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT * FROM running_status WHERE record_count = 3"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["max_offset"] == 30
    assert rows[0]["last_ts"] == 3000


def test_cdc_delta_stream_matches_recompute_and_drops_replays(spark, tmp_path):
    """Streaming IVM: deltas accumulated across micro-batches must equal a
    batch recompute of the cumulative log's latest image, and a fully
    replayed batch (offsets <= applied) must emit no deltas at all."""
    from flink_cdc_multi_spark.streaming.stateful import cdc_delta_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = "pk long, g string, v long, _op string, pos long"

    b1 = [(1, "a", 10, "INSERT", 10), (2, "b", 5, "INSERT", 20)]
    b2 = [
        (1, "b", 7, "UPDATE", 30),   # group move a -> b
        (2, "b", 5, "DELETE", 40),   # delete
        (3, "a", 1, "INSERT", 50),
        (3, "a", 4, "UPDATE", 60),   # two changes, one batch -> one net delta
    ]
    b3 = list(b2)  # full replay: must emit nothing
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(feed / "f1"))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(feed) + "/*")
    deltas = cdc_delta_stream(stream, "pk", "g", "v", "pos")
    q = (
        deltas.writeStream.format("memory")
        .queryName("ivm_deltas")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def totals():
        rows = spark.sql(
            "SELECT g, SUM(d_cnt) cnt, SUM(d_total) total FROM ivm_deltas "
            "GROUP BY g HAVING SUM(d_cnt) > 0"
        ).collect()
        return sorted((r["g"], r["cnt"], r["total"]) for r in rows)

    def n_delta_rows():
        return spark.sql("SELECT COUNT(*) n FROM ivm_deltas").collect()[0]["n"]

    q.processAllAvailable()
    assert totals() == [("a", 1, 10), ("b", 1, 5)]

    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(feed / "f2"))
    q.processAllAvailable()
    # latest state: pk1 -> (b,7), pk2 deleted, pk3 -> (a,4)
    assert totals() == [("a", 1, 4), ("b", 1, 7)]

    before_replay = n_delta_rows()
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(str(feed / "f3"))
    q.processAllAvailable()
    q.stop()
    assert n_delta_rows() == before_replay  # replayed batch emitted nothing
    assert totals() == [("a", 1, 4), ("b", 1, 7)]


def test_cdc_delta_stream_state_survives_restart(spark, tmp_path):
    """Kill-and-restart: a NEW query over the SAME checkpoint must restore
    the per-pk state — the restarted stream sees an UPDATE for a key whose
    INSERT was processed before the stop, and must emit the retraction of
    the old value (impossible without restored state)."""
    from flink_cdc_multi_spark.streaming.stateful import cdc_delta_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = "pk long, g string, v long, _op string, pos long"
    spark.createDataFrame(
        [(1, "a", 10, "INSERT", 10)], schema
    ).coalesce(1).write.parquet(str(feed / "f1"))

    emitted: list[tuple] = []

    def start():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(feed) + "/*")

        def sink(df, _bid):
            emitted.extend(
                (r["g"], r["d_cnt"], r["d_total"]) for r in df.collect()
            )

        # foreachBatch (not the memory sink, which refuses checkpoint
        # recovery) — the same sink shape the CDC pipeline itself uses
        return (
            cdc_delta_stream(stream, "pk", "g", "v", "pos")
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert sorted(emitted) == [("a", 1, 10)]

    emitted.clear()
    spark.createDataFrame(
        [(1, "b", 7, "UPDATE", 20)], schema
    ).coalesce(1).write.parquet(str(feed / "f2"))
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    # the restarted query emits ONLY batch 2's deltas, and the retraction
    # (a, -10) proves the pre-restart state was restored from checkpoint
    assert sorted(emitted) == [("a", -1, -10), ("b", 1, 7)]


def test_cdc_delta_stream_on_rocksdb_state_store(spark, tmp_path):
    """The docstring's 'RocksDB state store on a real cluster' claim,
    executed: the same delta stream runs under RocksDBStateStoreProvider
    (Spark 4 built-in) with state surviving across micro-batches."""
    from flink_cdc_multi_spark.streaming.stateful import cdc_delta_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        feed = tmp_path / "feed"
        feed.mkdir()
        schema = "pk long, g string, v long, _op string, pos long"
        spark.createDataFrame(
            [(1, "a", 10, "INSERT", 10)], schema
        ).coalesce(1).write.parquet(str(feed / "f1"))
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(feed) + "/*")
        got: list[tuple] = []
        q = (
            cdc_delta_stream(stream, "pk", "g", "v", "pos")
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (r["g"], r["d_cnt"], r["d_total"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        # second batch: retraction requires per-key state held in RocksDB
        spark.createDataFrame(
            [(1, "b", 7, "UPDATE", 20)], schema
        ).coalesce(1).write.parquet(str(feed / "f2"))
        q.processAllAvailable()
        q.stop()
        assert sorted(got) == [("a", -1, -10), ("a", 1, 10), ("b", 1, 7)]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_delta_stream_replay_drop_at_scale(spark, tmp_path):
    """Replay-drop at a non-toy key count under RocksDB (VERDICT r9
    item 5, CI-sized twin of tools/bench_state_scale.py): build 50k-key
    state, touch 1% of keys, then replay that batch byte-identically —
    zero deltas — and pin via state metrics that the touch batch updated
    ONLY the touched keys (numRowsUpdated == touched, numRowsTotal ==
    full domain): per-batch work is O(batch + touched), not O(keys)."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.streaming.stateful import cdc_delta_stream

    n_keys, n_touch = 50_000, 500
    stride = n_keys // n_touch

    def batch(n, op, pos_base, step):
        return spark.range(n).select(
            (F.col("id") * step).alias("pk"),
            (F.col("id") % 7).cast("string").alias("g"),
            (F.col("id") % 100).alias("v"),
            F.lit(op).alias("_op"),
            (F.lit(pos_base) + F.col("id") * step).alias("pos"),
        )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        feed = tmp_path / "feed"
        feed.mkdir()
        batch(n_keys, "INSERT", 0, 1).coalesce(4).write.parquet(str(feed / "f1"))
        stream = spark.readStream.schema(
            "pk long, g string, v long, _op string, pos long"
        ).option("maxFilesPerTrigger", "4").parquet(str(feed) + "/*")
        counts: list[int] = []
        q = (
            cdc_delta_stream(stream, "pk", "g", "v", "pos")
            .writeStream.foreachBatch(lambda df, _b: counts.append(df.count()))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert counts[-1] == n_keys  # one insert delta per key

            batch(n_touch, "UPDATE", 10 * n_keys, stride).coalesce(1).write.parquet(
                str(feed / "f2")
            )
            q.processAllAvailable()
            # retraction + insert per touched key
            assert counts[-1] == 2 * n_touch
            so = q.lastProgress["stateOperators"][0]
            assert so["numRowsTotal"] == n_keys
            assert so["numRowsUpdated"] == n_touch

            spark.read.parquet(str(feed / "f2")).coalesce(1).write.parquet(
                str(feed / "f3")
            )
            q.processAllAvailable()
            assert counts[-1] == 0, "replayed batch emitted deltas"
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_dedup_stream_across_batches(spark, tmp_path):
    """dedup_stream (r15): the streaming exact-dedup twin — within one
    micro-batch the LOWEST order_col copy of each content digest is
    emitted; a later batch redelivering the same content emits NOTHING
    (per-digest engine state); new content still flows."""
    import json as _json

    from flink_cdc_multi_spark.streaming.stateful import dedup_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    rows1 = [
        {"text": "alpha", "doc_id": 7},
        {"text": "alpha", "doc_id": 3},   # same content, lower id: the keeper
        {"text": "beta", "doc_id": 5},
    ]
    (feed / "f1.jsonl").write_text("\n".join(_json.dumps(r) for r in rows1))
    schema = "text string, doc_id long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    out = dedup_stream(stream, ["text"], "doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    got = {(r["text"], r["doc_id"])
           for r in spark.sql("SELECT text, doc_id FROM dedup_stream_t").collect()}
    assert got == {("alpha", 3), ("beta", 5)}

    # batch 2: redelivery of alpha (any id) suppressed; new content passes
    rows2 = [
        {"text": "alpha", "doc_id": 1},   # duplicate across batches
        {"text": "gamma", "doc_id": 9},
    ]
    (feed / "f2.jsonl").write_text("\n".join(_json.dumps(r) for r in rows2))
    q.processAllAvailable()
    q.stop()
    got = {(r["text"], r["doc_id"])
           for r in spark.sql("SELECT text, doc_id FROM dedup_stream_t").collect()}
    assert got == {("alpha", 3), ("beta", 5), ("gamma", 9)}


def test_dedup_stream_ttl_reopens_horizon(spark, tmp_path):
    """dedup_stream TTL (r15, stored-expiry design — no engine timers, see
    the module note on the rejected ProcessingTimeTimeout): a duplicate
    INSIDE the horizon is suppressed; one arriving after ttl_minutes past
    the FIRST sighting re-emits and restarts the horizon. Clock injected
    (file-backed) so expiry is deterministic."""
    import json as _json

    from flink_cdc_multi_spark.streaming.stateful import dedup_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    clock_file = tmp_path / "clock"
    clock_file.write_text("1000")
    cf = str(clock_file)
    (feed / "f1.jsonl").write_text(_json.dumps({"text": "x", "doc_id": 5}))
    stream = (
        spark.readStream.schema("text string, doc_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    out = dedup_stream(
        stream, ["text"], "doc_id", ttl_minutes=1,
        now_ms=lambda: int(open(cf).read()),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_ttl_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # inside the horizon: suppressed
    clock_file.write_text(str(1000 + 30_000))
    (feed / "f2.jsonl").write_text(_json.dumps({"text": "x", "doc_id": 4}))
    q.processAllAvailable()
    rows = [r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_ttl_t").collect()]
    assert rows == [5]
    # past the horizon (measured from FIRST sighting): re-emitted
    clock_file.write_text(str(1000 + 61_000))
    (feed / "f3.jsonl").write_text(_json.dumps({"text": "x", "doc_id": 3}))
    q.processAllAvailable()
    q.stop()
    rows = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_ttl_t").collect())
    assert rows == [3, 5]


def test_dedup_stream_schema_and_null_order(spark, tmp_path):
    """r15 review fixes: (a) the internal digest column must NOT leak into
    the output schema, and a reserved-column collision is rejected at
    plan time; (b) rows with a NULL order key are never chosen and never
    crash the query (the exact_dedup min_by contract)."""
    import json as _json

    from flink_cdc_multi_spark.streaming.stateful import dedup_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.jsonl").write_text("\n".join([
        _json.dumps({"text": "x"}),                   # null order: dropped
        _json.dumps({"text": "x", "doc_id": 8}),
        _json.dumps({"text": "onlynull"}),            # all-NA group: no row
    ]))
    stream = (
        spark.readStream.schema("text string, doc_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    out = dedup_stream(stream, ["text"], "doc_id")
    assert set(out.schema.names) == {"text", "doc_id"}
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_nulls_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = [(r["text"], r["doc_id"])
            for r in spark.sql("SELECT text, doc_id FROM dedup_nulls_t").collect()]
    assert rows == [("x", 8)]

    import pytest as _pytest

    bad = stream.withColumnRenamed("text", "__fcm_dedup_digest")
    with _pytest.raises(ValueError, match="reserved column"):
        dedup_stream(bad, ["__fcm_dedup_digest"], "doc_id")


def test_dedup_stream_tie_break_attempt_invariant(spark, tmp_path):
    """r16 (VERDICT r15 item 3): among same-digest rows with EQUAL order
    keys — exactly the redelivered-copy case: identical content, different
    _kafka_* triple — the kept row is the total-order minimum over every
    output column, NOT whatever pandas chunk order delivered first. Run the
    same row set in two shuffled input orders under fresh checkpoints and
    demand byte-identical survivors (the sink's ATTEMPT-INVARIANT rule)."""
    import json as _json

    from flink_cdc_multi_spark.streaming.stateful import dedup_stream

    rows = [
        {"text": "x", "ord": 5, "koff": 9},
        {"text": "x", "ord": 5, "koff": 2},
        {"text": "x", "ord": 5, "koff": 7},
    ]
    kept = []
    for label, order in (("fwd", rows), ("rev", rows[::-1])):
        feed = tmp_path / f"feed_{label}"
        feed.mkdir()
        (feed / "f1.jsonl").write_text(
            "\n".join(_json.dumps(r) for r in order)
        )
        stream = (
            spark.readStream.schema("text string, ord long, koff long")
            .option("maxFilesPerTrigger", "1")
            .json(str(feed))
        )
        out = dedup_stream(stream, ["text"], "ord")
        name = f"dedup_tie_{label}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{label}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        kept.append(
            [(r["text"], r["ord"], r["koff"])
             for r in spark.sql(f"SELECT * FROM {name}").collect()]
        )
    assert kept[0] == kept[1] == [("x", 5, 2)]


def test_dedup_stream_all_null_order_leaves_digest_unseen(spark, tmp_path):
    """r16 (VERDICT r15 item 3, API edge): a batch whose EVERY copy of a
    digest has a NULL order key emits nothing — and must NOT mark the
    digest seen (state.update used to run before the emit check, so that
    content was suppressed forever with nothing ever emitted). A later
    batch with a valid copy still emits it."""
    import json as _json

    from flink_cdc_multi_spark.streaming.stateful import dedup_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.jsonl").write_text(_json.dumps({"text": "z"}))  # null order
    stream = (
        spark.readStream.schema("text string, doc_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    out = dedup_stream(stream, ["text"], "doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_burn_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT * FROM dedup_burn_t").count() == 0
    (feed / "f2.jsonl").write_text(_json.dumps({"text": "z", "doc_id": 4}))
    q.processAllAvailable()
    q.stop()
    rows = [(r["text"], r["doc_id"])
            for r in spark.sql("SELECT * FROM dedup_burn_t").collect()]
    assert rows == [("z", 4)]


def test_dedup_stream_null_shift_distinct_digests(spark, tmp_path):
    """r15 ADVICE: concat_ws SKIPS nulls, so without a per-column sentinel
    (NULL,'x') and ('x',NULL) aliased to one digest and genuinely distinct
    events suppressed each other. Both must emit."""
    import json as _json

    from flink_cdc_multi_spark.streaming.stateful import dedup_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.jsonl").write_text("\n".join([
        _json.dumps({"a": None, "b": "x", "doc_id": 1}),
        _json.dumps({"a": "x", "b": None, "doc_id": 2}),
    ]))
    stream = (
        spark.readStream.schema("a string, b string, doc_id long")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    out = dedup_stream(stream, ["a", "b"], "doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_nullshift_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT * FROM dedup_nullshift_t").count() == 2
