"""Debezium-style JSON change feed → typed envelope DataFrame.

The reference's deserializers (T1-T4, e.g.
java/deserializers/MySQLDebeziumToJSONDeserializer.java:26-185) turn Debezium
``SourceRecord``s into flat JSON strings. Here the equivalent is a pure
DataFrame transform over a feed of raw Debezium-style JSON lines (file, Kafka,
or socket — anything ``spark.read[Stream]`` can deliver as a string column):

1. one ``from_json`` against a fixed raw-envelope schema for the metadata
   (op, ts_ms, source.db/table, offsets, ddl),
2. image pick: DELETE → before, else after
   (MySQLDebeziumToJSONDeserializer.java:106-110) — kept as a JSON *string*
   column so routing stays payload-agnostic; the per-table typed projection
   happens at the routing boundary (T5 equivalent,
   JSONToGenericRecordMapFunction.java:31-45) via ``from_json`` with that
   table's schema,
3. op normalization (Oracle r/c/u/d; Mongo REPLACE→UPDATE, snapshot
   INSERT→READ; Debezium's enum name CREATE → INSERT),
4. ``_ts`` wall-clock fallback when < 1 (:166).

No strings are shuttled between operators beyond the single payload column —
Tungsten keeps the envelope columnar, and Catalyst prunes the raw JSON parse
to exactly the fields used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_multi_spark.envelope import OP_DELETE
from flink_cdc_multi_spark.functions.sanitizer import sanitize_col

# Raw Debezium-ish wire schema (subset we consume). `before`/`after` are
# intentionally NOT struct-typed — declared StringType so the single
# from_json captures them as raw JSON strings (typed per-table at the
# routing boundary).
_RAW_SOURCE = T.StructType(
    [
        T.StructField("db", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("scn", T.StringType()),
        T.StructField("snapshot", T.StringType()),
        # event-time fallback: the reference's DDL branch falls back to
        # source.ts_ms when the top-level ts is undecodable
        # (MySQLDebeziumToJSONDeserializer.java:80-87)
        T.StructField("ts_ms", T.LongType()),
    ]
)

# Debezium transaction-metadata block (provide.transaction.metadata=true;
# public envelope docs): identifies the source transaction an event belongs
# to and its order within it.
_RAW_TXN = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("total_order", T.LongType()),
        T.StructField("data_collection_order", T.LongType()),
    ]
)


def _meta_schema(payload_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("ddl", T.StringType()),
            T.StructField("source", _RAW_SOURCE),
            # before/after as StringType makes from_json capture the subtree
            # as a raw JSON string — one Jackson parse yields metadata AND
            # both images, instead of from_json + 2× get_json_object
            # re-parsing the full line. A single-table stream passes the
            # table's StructType instead and the images come out TYPED in
            # the same single parse (the routing-side from_json disappears).
            T.StructField("before", payload_type),
            T.StructField("after", payload_type),
            # offset the connector would checkpoint (sourceOffset in the
            # reference, :168-171): the *starting* offset of the transaction.
            T.StructField("offset_file", T.StringType()),
            T.StructField("offset_pos", T.LongType()),
            T.StructField("txn_op_index", T.StringType()),
            T.StructField("_id", T.StringType()),
            # real-Debezium surfaces (round 6): transaction metadata block;
            # schema-change topic events carry the database as a top-level
            # `databaseName` plus structured `tableChanges` (the `ddl` text
            # is top-level in both the stand-in and the real format).
            T.StructField("transaction", _RAW_TXN),
            T.StructField("databaseName", T.StringType()),
            T.StructField(
                "tableChanges",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("type", T.StringType()),
                            T.StructField("id", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )


RAW_META_SCHEMA = _meta_schema(T.StringType())

_OP_CODES = {
    "r": "READ",
    "c": "INSERT",
    "u": "UPDATE",
    "d": "DELETE",
    "CREATE": "INSERT",  # Debezium Envelope.Operation enum name
    "REPLACE": "UPDATE",  # Mongo (MongoDBDebeziumToJSONDeserializer.java:188)
}


def _canonical_op(op, snapshotting):
    out = op
    for code, canon in _OP_CODES.items():
        out = F.when(op == code, canon).otherwise(out)
    # Mongo snapshot INSERTs are READs (:175-182); harmless for sources whose
    # snapshot READs already arrive as 'r'.
    return F.when(snapshotting & (out == "INSERT"), "READ").otherwise(out)


def decode_raw(
    raw: DataFrame,
    source_type: str,
    value_col: str = "value",
    passthrough: tuple[str, ...] = (),
    payload_schema: T.StructType | None = None,
    schemas_enable: bool = False,
) -> DataFrame:
    """Raw Debezium JSON lines → flat envelope DataFrame with columns
    ``_db _tbl _database _op _ts _ddl _ddl_tbl payload`` + per-source offset
    columns. ``payload`` is the chosen image as a JSON string — or, when
    ``payload_schema`` is given (single-table streams), as a typed struct
    parsed in the same single pass; the routing boundary then projects
    without a second parse. ``passthrough`` columns (e.g. Kafka
    topic/partition/offset) are carried into the envelope unchanged.

    ``schemas_enable`` (r15): Kafka Connect's JsonConverter DEFAULT
    (``value.converter.schemas.enable=true``) wraps every record as
    ``{"schema": {...}, "payload": {<the Debezium event>}}`` — a user
    pointing this engine at a default-converter topic would otherwise
    decode all-null metadata. When set, the wrapper is unwrapped with
    ONE get_json_object before the envelope parse (tombstones/null
    values stay null; heartbeats and schema-change events are wrapped
    too and unwrap the same way). Config-gated rather than
    auto-detected: detection would pay extra JSON probes per record on
    the hot path for the schemaless majority."""
    v = F.col(value_col)
    if schemas_enable:
        v = F.get_json_object(v, "$.payload")
    schema = _meta_schema(payload_schema) if payload_schema is not None else RAW_META_SCHEMA
    meta = F.from_json(v, schema).alias("m")
    df = raw.select(meta, *[F.col(c) for c in passthrough])

    src = F.col("m.source")
    # Debezium's full snapshot-phase vocabulary (`source.snapshot`):
    # true / first / last plus the per-collection and incremental variants —
    # anything but false/null means "this event is part of a snapshot"
    snapshotting = F.coalesce(src["snapshot"], F.lit("false")).isin(
        "true",
        "TRUE",
        "first",
        "last",
        "first_in_data_collection",
        "last_in_data_collection",
        "incremental",
    )
    op = _canonical_op(F.col("m.op"), snapshotting)
    is_ddl = F.col("m.ddl").isNotNull()

    # schema-change topic events carry the database as top-level
    # `databaseName` (source.db is usually ALSO set there — the coalesce
    # covers connector versions where it isn't)
    database = F.coalesce(src["db"], src["schema"], F.col("m.databaseName"))
    # DDL events may scope the table only inside tableChanges[0].id
    # ('"inventory"."customers"') — strip the quoting and take the last
    # dotted segment. try_element_at: database-level DDL ships
    # tableChanges: [] and ANSI element_at would crash the stream on it
    # (found by the decode fuzz test)
    tc_table = F.regexp_extract(
        F.try_element_at(F.col("m.tableChanges"), F.lit(1))["id"], r'"?([^".]+)"?$', 1
    )
    table = F.coalesce(
        src["table"], src["collection"], F.nullif(tc_table, F.lit(""))
    )

    cols = [
        sanitize_col(database).alias("_db"),
        F.when(is_ddl, F.concat(F.lit("_"), sanitize_col(database), F.lit("_ddl")))
        .otherwise(sanitize_col(table))
        .alias("_tbl"),
        database.alias("_database"),
        F.when(is_ddl, F.lit(None).cast("string")).otherwise(op).alias("_op"),
        # ts precedence: envelope ts_ms, then source.ts_ms (the reference's
        # DDL-branch fallback), then wall clock for present-but-absurd
        # values (< 1, :166)
        F.when(
            F.coalesce(F.col("m.ts_ms"), src["ts_ms"]) < 1,
            F.unix_millis(F.current_timestamp()),
        )
        .otherwise(F.coalesce(F.col("m.ts_ms"), src["ts_ms"]))
        .alias("_ts"),
        F.col("m.ddl").alias("_ddl"),
        F.when(is_ddl, sanitize_col(table)).otherwise(F.lit(None)).alias("_ddl_tbl"),
        # image pick (MySQLDebeziumToJSONDeserializer.java:106-110): the
        # before/after subtrees were captured as raw JSON strings by the
        # single from_json above.
        F.when(op == OP_DELETE, F.col("m.before"))
        .otherwise(F.col("m.after"))
        .alias("payload"),
        snapshotting.alias("_snapshotting"),
        # transaction-metadata block when the capture has
        # provide.transaction.metadata=true; null otherwise
        F.col("m.transaction")["id"].alias("_txn_id"),
    ]

    if source_type == "mysql":
        # sourceOffset (txn start) for resume; source struct (event pos) kept
        # in the sink schema as *_internal (MySQLStreamer.java:438-439).
        cols += [
            F.coalesce(F.col("m.offset_file"), src["file"]).alias("_binlog_file"),
            F.coalesce(F.col("m.offset_pos"), src["pos"]).alias("_binlog_pos_end"),
            src["file"].alias("_binlog_file_internal"),
            src["pos"].alias("_binlog_pos_internal"),
        ]
    elif source_type == "postgres":
        cols += [src["schema"].alias("_schema"), src["lsn"].alias("_lsn")]
    elif source_type == "oracle":
        # _scn defaults to "0" (OracleDebeziumToJSONDeserializer.java:31-34)
        cols += [
            src["schema"].alias("_schema"),
            F.coalesce(src["scn"], F.lit("0")).alias("_scn"),
        ]
    elif source_type == "mongodb":
        # _id: stand-in top-level first; real Debezium Mongo carries it only
        # inside the document (extended-JSON string in before/after) — fall
        # back to the picked image's $._id (typed-payload streams pass
        # payload_schema and keep the stand-in convention)
        image = F.when(op == OP_DELETE, F.col("m.before")).otherwise(F.col("m.after"))
        id_candidates = [
            F.get_json_object(F.col("m._id"), "$.$oid"),
            F.col("m._id"),
        ]
        if payload_schema is None:
            id_candidates += [
                F.get_json_object(image, "$._id.$oid"),
                F.get_json_object(image, "$._id.$numberLong"),
                F.get_json_object(image, "$._id"),
            ]
        cols += [
            sanitize_col(table).alias("_coll"),
            F.coalesce(*id_candidates).alias("_id"),
            F.col("m.txn_op_index").alias("_txn_op_index"),
        ]
    else:
        raise ValueError(f"unknown source type: {source_type}")

    cols += [F.col(c) for c in passthrough]
    # Heartbeats ({"ts_ms":...} on the heartbeat topic — no op, no source),
    # Kafka delete tombstones (null value → all-null parse), and blank feed
    # lines are transport artifacts, not change events: drop them here so
    # routing/offsets/status never see them. A data event always has _op;
    # a DDL event always has _ddl; both carry a database.
    return df.select(*cols).filter(
        F.col("_op").isNotNull() | F.col("_ddl").isNotNull() | F.col("_db").isNotNull()
    )


def read_raw_batch(spark: SparkSession, path: str, source_type: str,
                   schemas_enable: bool = False) -> DataFrame:
    return decode_raw(spark.read.text(path), source_type,
                      schemas_enable=schemas_enable)


def read_raw_stream(
    spark: SparkSession,
    path: str,
    source_type: str,
    max_files_per_trigger: int | None = None,
    payload_schema: T.StructType | None = None,
    schemas_enable: bool = False,
) -> DataFrame:
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return decode_raw(reader.load(path), source_type,
                      payload_schema=payload_schema,
                      schemas_enable=schemas_enable)
