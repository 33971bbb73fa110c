"""Offset store: per-source offset reduction + single-file persistence +
startup resume (reference ST4-ST7, W2, S6).

The reference keeps the last-seen offset in keyed state and flushes it to a
single overwritten text file on checkpoint-complete
(BinlogOffsetStoreProcessFunction.java:33-80,
SingleFileSinkFunction.java:31-39, read back at FlinkCDCMulti.java:187-257).
Spark mapping: the micro-batch IS the checkpoint alignment — reduce the
batch to one offset value with ``max_by`` (order-insensitive, SURVEY.md
§7.5) and overwrite the file after the batch's writes commit. Contract
preserved: at-least-once, resume from the *starting* offset of the last
transaction, duplicates tolerated downstream (README.md:212-218).

File formats (FIXTURES.md §B5): MySQL ``file,pos``; Postgres LSN digits;
Oracle SCN digits; Mongo epoch-millis digits.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_multi_spark.envelope import OP_READ
from flink_cdc_multi_spark.sources import fsio

# startup validation (MySQLStreamer.java:205-206, MongoDBStreamer.java:169)
_MYSQL_OFFSET_RE = re.compile(r"^[^,]+,[0-9]+$")
_NUMERIC_RE = re.compile(r"^[0-9]+$")


def offset_agg(source_type: str) -> "F.Column":
    """The batch's offset as ONE ungrouped aggregate (usable in ``agg`` and
    as a ``df.observe`` metric): null when the batch carries no
    offset-bearing records. Snapshot READs are skipped — they have no
    binlog/LSN position (BinlogOffsetStoreProcessFunction.java:42-47);
    DDL records DO carry offsets and count. ``_offset_str`` renders it."""
    not_read = F.col("_op").isNull() | (F.col("_op") != OP_READ)
    if source_type == "mysql":
        has = not_read & F.col("_binlog_file").isNotNull()
        pos = F.when(has, F.struct("_binlog_file", "_binlog_pos_end"))
        return F.max_by(pos, pos)  # null-ordering rows are skipped
    if source_type == "postgres":
        return F.max(F.when(not_read & F.col("_lsn").isNotNull(), F.col("_lsn")))
    if source_type == "oracle":
        # ST7 emits _scn on change; batch equivalent: numerically-last SCN.
        # try_cast: a malformed SCN string on one corrupt line must not
        # ANSI-crash the whole offset reduction — it degrades to null and
        # falls out of the max (same family as the tableChanges fuzz find)
        return F.max(
            F.when(
                F.col("_scn").isNotNull() & (F.col("_scn") != "0"),
                F.col("_scn").try_cast("decimal(38,0)"),
            )
        )
    if source_type == "mongodb":
        return F.max(F.when(F.col("_op") != OP_READ, F.col("_ts")))
    raise ValueError(f"unknown source type: {source_type}")


def _offset_str(o, source_type: str) -> str | None:
    """``offset_agg`` value → offset string (mysql 'file,pos', pg LSN,
    oracle SCN, mongo ts)."""
    if o is None:
        return None
    if source_type == "mysql":
        return f"{o['_binlog_file']},{o['_binlog_pos_end']}"
    return str(o)


def reduce_offset(envelope: DataFrame, source_type: str) -> str | None:
    """One (micro-)batch → the offset string to persist, or None if the batch
    carries no offset-bearing records (see ``offset_agg``)."""
    row = envelope.agg(offset_agg(source_type).alias("o")).first()
    return _offset_str(row["o"], source_type)


def offset_greater(a: str, b: str, source_type: str) -> bool:
    """True if offset ``a`` is strictly beyond ``b``. Micro-batches may
    observe files/segments out of offset order (unlike the reference's
    single-threaded stream, where last-seen == max), so the store must
    enforce monotone advancement explicitly."""
    if source_type == "mysql":
        fa, pa = a.split(",", 1)
        fb, pb = b.split(",", 1)
        return (fa, int(pa)) > (fb, int(pb))
    return int(a) > int(b)


class OffsetFileStore:
    """``<store>/<source_id>_offset.txt``, overwritten atomically per flush
    (FlinkCDCMulti.java:206; SingleFileSinkFunction truncates+rewrites).
    Storage-agnostic via sources/fsio — local paths, ``hdfs://``, ``s3a://``
    all work (on a cluster the store MUST be shared storage)."""

    def __init__(self, store_path: str, source_id: str):
        self.path = fsio.join(store_path, f"{source_id}_offset.txt")

    def write(self, offset: str) -> None:
        fsio.write_text_atomic(self.path, offset)

    def read(self) -> str | None:
        """Missing or empty file → no resume offset
        (FlinkCDCMulti.java:242-253)."""
        content = fsio.read_text(self.path)
        return content.strip() or None if content is not None else None


def validate_offset(offset: str, source_type: str) -> bool:
    if source_type == "mysql":
        return bool(_MYSQL_OFFSET_RE.match(offset))
    if source_type in ("postgres", "oracle", "mongodb"):
        return bool(_NUMERIC_RE.match(offset))
    return False


def ddl_positionless(source_type: str, columns: list[str]) -> "F.Column":
    """Predicate: this DDL row carries NO source position — the class
    resume_filter's per-source rules deliberately pass (null binlog file
    / null LSN / the Oracle decoder's "0" default SCN). Shared with the
    redelivery-suppression DDL bypass (r16 review: a second hand-copied
    position map in pipeline.start silently fell back to
    bypass-ALL-DDL for unlisted source types, re-enabling the
    positioned-DDL double-write it existed to fix). Unknown source
    types and envelopes WITHOUT the position column return False —
    fail CLOSED to the suppression leg, where the TTL bounds the
    worst case (a recurring legit DDL re-emits after the horizon)
    rather than duplicating schema history. MongoDB emits no DDL rows,
    so it never reaches this predicate."""
    pos_col = {
        "mysql": "_binlog_file", "postgres": "_lsn", "oracle": "_scn"
    }.get(source_type)
    if not pos_col or pos_col not in columns:
        return F.lit(False)
    positionless = F.col(pos_col).isNull()
    if source_type == "oracle":
        positionless = positionless | (F.col(pos_col) == "0")
    return positionless


def resume_filter(envelope: DataFrame, source_type: str, offset: str | None) -> DataFrame:
    """Re-position a replayed feed past a stored offset. A real binlog/WAL
    client seeks server-side; for file-fed feeds the equivalent is a
    pushdown-able predicate on the offset columns. Records AT the stored
    offset are re-emitted (at-least-once resume: the stored offset is the
    *start* of the last transaction, README.md:212-218)."""
    if not offset:
        return envelope
    if not validate_offset(offset, source_type):
        raise ValueError(f"invalid {source_type} offset: {offset!r}")
    # DDL rows (_op null) are filtered by the SAME offset predicate when
    # they carry a position, and pass through only when their position is
    # unknown (null offset columns). Unconditional DDL pass-through would
    # re-deliver an already-handled structural DDL on every restart — the
    # job would stop again immediately and the re-version workflow
    # (stop → table.name.map → reposition → restart) could never proceed.
    # A real binlog/WAL client seeking past the offset never re-reads it.
    if source_type == "mysql":
        file_, pos = offset.split(",", 1)
        return envelope.filter(
            (F.col("_op").isNull() & F.col("_binlog_file").isNull())
            | (F.col("_binlog_file") > file_)
            | ((F.col("_binlog_file") == file_) & (F.col("_binlog_pos_end") >= int(pos)))
        )
    if source_type == "postgres":
        return envelope.filter(
            (F.col("_op").isNull() & F.col("_lsn").isNull())
            | (F.col("_lsn") >= int(offset))
        )
    if source_type == "oracle":
        # position-less DDL (decoder's "0" default SCN) passes through,
        # matching the mysql/pg null-position rule above
        # try_cast + coalesce-to-True: an unparseable SCN means the row's
        # position is UNKNOWN — keeping it is the replay-safe choice under
        # at-least-once (dropping would be silent data loss; ANSI cast
        # would crash the stream)
        return envelope.filter(
            (F.col("_op").isNull() & (F.col("_scn") == "0"))
            | F.coalesce(
                F.col("_scn").try_cast("decimal(38,0)") >= int(offset),
                F.lit(True),
            )
        )
    if source_type == "mongodb":
        return envelope.filter(F.col("_ts") >= int(offset))
    raise ValueError(f"unknown source type: {source_type}")
