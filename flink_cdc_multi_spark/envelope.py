"""The CDC change-event envelope (SURVEY.md §1.5, FIXTURES.md §B).

Every change event is a flat record: payload columns + metadata columns.
The reference shuttles these as JSON strings between operators; here they
are typed columns from the start (Tungsten-columnar in flight).

Metadata vocabulary (reference citations):
- ``_op``: READ | INSERT | UPDATE | DELETE
  (MySQL/PG: Debezium Envelope op, MySQLDebeziumToJSONDeserializer.java:103;
   Oracle emits r/c/u/d, OracleDebeziumToJSONDeserializer.java:44-63;
   Mongo REPLACE→UPDATE and snapshot INSERT→READ,
   MongoDBDebeziumToJSONDeserializer.java:174-193)
- ``_ts``: epoch millis, wall clock when source gives < 1
  (MySQLDebeziumToJSONDeserializer.java:166)
- DELETE carries the before-image, all else the after-image
  (MySQLDebeziumToJSONDeserializer.java:106-110)
- per-source offset columns: MySQL ``_binlog_file``/``_binlog_pos_end``
  (+ ``_internal`` twins retained in the sink schema,
  MySQLStreamer.java:438-439), PG ``_lsn``, Oracle ``_scn``,
  Mongo ``_txn_op_index``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

OP_READ = "READ"
OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"
OPS = (OP_READ, OP_INSERT, OP_UPDATE, OP_DELETE)


@dataclass(frozen=True)
class SourceKind:
    name: str
    meta_fields: list  # list[T.StructField]
    offset_cols: tuple[str, ...]  # routing-only; stripped before sink


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype, True)


_COMMON = [
    _f("_db", T.StringType()),
    _f("_tbl", T.StringType()),
    _f("_op", T.StringType()),
    _f("_ts", T.LongType()),
]

MYSQL = SourceKind(
    "mysql",
    _COMMON
    + [
        _f("_database", T.StringType()),
        _f("_binlog_file", T.StringType()),
        _f("_binlog_pos_end", T.LongType()),
        _f("_binlog_file_internal", T.StringType()),
        _f("_binlog_pos_internal", T.LongType()),
        _f("_ddl", T.StringType()),
        _f("_ddl_tbl", T.StringType()),
    ],
    ("_binlog_file", "_binlog_pos_end"),
)

POSTGRES = SourceKind(
    "postgres",
    _COMMON
    + [
        _f("_database", T.StringType()),
        _f("_schema", T.StringType()),
        _f("_lsn", T.LongType()),
        _f("_ddl", T.StringType()),
        _f("_ddl_tbl", T.StringType()),
    ],
    ("_lsn",),
)

ORACLE = SourceKind(
    "oracle",
    _COMMON
    + [
        _f("_database", T.StringType()),
        _f("_schema", T.StringType()),
        _f("_scn", T.StringType()),
        _f("_ddl", T.StringType()),
        _f("_ddl_tbl", T.StringType()),
    ],
    ("_scn",),
)

MONGODB = SourceKind(
    "mongodb",
    _COMMON
    + [
        _f("_coll", T.StringType()),
        _f("_id", T.StringType()),
        _f("_txn_op_index", T.StringType()),
    ],
    ("_txn_op_index",),
)

SOURCE_KINDS = {k.name: k for k in (MYSQL, POSTGRES, ORACLE, MONGODB)}

# Columns the router strips before the sink (SideInputProcessFunction.java:54-63):
# routing identity always; offset cols only for non-DDL records.
ROUTING_COLS = ("_db", "_tbl", "_database", "_coll")
