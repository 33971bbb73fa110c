"""Mongo version-gated startup matrix, newly-added-table pickup, and the
CLI entry point (FlinkCDCMulti.java:393-415)."""

import json
import os
import subprocess
import sys

import pytest

from conftest import make_mysql_row

from flink_cdc_multi_spark.sources.mongo import compare_versions, resolve_mongo_startup

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# -- version compare + startup matrix (MongoDBStreamer.java:145-231) --------


@pytest.mark.parametrize(
    "a,b,sign",
    [
        ("3.6.4", "4.0.0", -1),
        ("4.0.0", "4.0.0", 0),
        ("4.10.2", "4.9.9", 1),
        ("4.0", "4.0.0", 0),
        ("5.0.1-ent", "5.0.1", 0),
    ],
)
def test_compare_versions(a, b, sign):
    assert compare_versions(a, b) == sign


@pytest.mark.parametrize(
    "mode,offset,version,want_mode,want_offset",
    [
        ("initial", None, "6.0.0", "initial", None),
        ("bogus", None, "6.0.0", "initial", None),  # unknown -> initial
        ("offset", None, "6.0.0", "initial", None),  # no value -> initial
        ("offset", "1700000000000", "6.0.0", "offset", "1700000000000"),
        ("offset", "1700000000000", "3.6.4", "latest", None),  # compat: ignored
        ("latest", None, "3.6.4", "latest", None),
        ("offset", "1700000000000", None, "offset", "1700000000000"),  # unknown ver
    ],
)
def test_mongo_startup_matrix(mode, offset, version, want_mode, want_offset):
    got_mode, got_offset, warnings = resolve_mongo_startup(mode, offset, version)
    assert (got_mode, got_offset) == (want_mode, want_offset)
    if version and compare_versions(version, "4.0.0") < 0:
        assert any("compatibility" in w for w in warnings)


def test_mongo_startup_bad_offset_rejected():
    with pytest.raises(ValueError, match="timestamp-milliseconds"):
        resolve_mongo_startup("offset", "not-a-ts", "6.0.0")


# -- newly-added-table pickup (MySQLStreamer.java:302) ----------------------


def _catalog_rows():
    return [
        ("testdb", "users", "id", "bigint", 1),
        ("testdb", "users", "v", "varchar(10)", 2),
        ("testdb", "newtbl", "id", "bigint", 1),
        ("testdb", "newtbl", "note", "varchar(20)", 2),
    ]


def test_newly_added_table_adopted_mid_feed(spark, tmp_path):
    from flink_cdc_multi_spark.config import JobConfig
    from flink_cdc_multi_spark.sources.introspect import (
        DataFrameCatalogReader,
        introspect_schema,
    )
    from flink_cdc_multi_spark.catalog import TableRegistry
    from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline
    from pyspark.sql import types as T

    USERS = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    reader = DataFrameCatalogReader(
        spark.createDataFrame(
            _catalog_rows(),
            "table_schema string, table_name string, column_name string, "
            "type_name string, ordinal_position int",
        )
    )
    cfg = JobConfig.from_dict(
        {
            "source.id": "s1",
            "source.type": "mysql",
            "sink.path": str(tmp_path / "sink"),
            "scan.newly.added.tables": "true",
            "checkpoint.interval": 1,
        }
    )
    # registry starts WITHOUT newtbl; the provider can introspect it
    reg = TableRegistry.build("mysql", {("testdb", "users"): USERS})

    def provider(db, tbl):
        try:
            return introspect_schema("mysql", reader, db, tbl)
        except ValueError:
            return None

    pipe = CDCPipeline(cfg, reg, schema_provider=provider)
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.json").write_text(
        "\n".join(
            [
                make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10),
                make_mysql_row(
                    table="newtbl", op="c", after={"id": 5, "note": "hi"}, pos=20
                ),
            ]
        )
        + "\n"
    )
    query = pipe.start(spark, str(feed), str(tmp_path / "ckpt"))
    query.processAllAvailable()
    query.stop()
    # the mid-feed table was adopted, routed, and written
    newtbl = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__newtbl"))
    assert newtbl.first()["note"] == "hi"
    assert "testdb.newtbl" in pipe.registry.specs


def test_unknown_table_still_fails_when_pickup_disabled(spark, tmp_path):
    from flink_cdc_multi_spark.catalog import TableRegistry
    from flink_cdc_multi_spark.operators.routing import UnknownTableError, route_batch
    from flink_cdc_multi_spark.sources.debezium_json import decode_raw
    from pyspark.sql import types as T

    USERS = T.StructType([T.StructField("id", T.LongType())])
    reg = TableRegistry.build("mysql", {("testdb", "users"): USERS})
    env = decode_raw(
        spark.createDataFrame(
            [(make_mysql_row(table="ghost", op="c", after={"id": 1}),)],
            "value string",
        ),
        "mysql",
    )
    with pytest.raises(UnknownTableError):
        route_batch(env, reg, str(tmp_path), "s")


# -- CLI (subprocess smoke) -------------------------------------------------


def test_cli_validate_and_run(tmp_path):
    import pandas as pd

    pd.DataFrame(
        _catalog_rows(),
        columns=[
            "table_schema",
            "table_name",
            "column_name",
            "type_name",
            "ordinal_position",
        ],
    ).to_parquet(tmp_path / "catalog.parquet")
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.json").write_text(
        make_mysql_row(op="c", after={"id": 1, "v": "a"}, pos=10) + "\n"
    )
    cfg = {
        "source.id": "clisrc",
        "source.type": "mysql",
        "source.table.list": "testdb.users",
        "sink.path": str(tmp_path / "sink"),
        "offset.store.path": str(tmp_path / "store"),
        "catalog.file": str(tmp_path / "catalog.parquet"),
        "feed.path": str(feed),
        "checkpoint.interval": 1,
    }
    (tmp_path / "job.json").write_text(json.dumps(cfg))
    env_run = lambda *extra: subprocess.run(  # noqa: E731
        [sys.executable, "-m", "flink_cdc_multi_spark", "-c", str(tmp_path / "job.json"), *extra],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=300,
    )
    v = env_run("--validate", "--name", "SMOKE")
    assert v.returncode == 0, v.stderr[-2000:]
    assert "testdb.users" in v.stdout and "_testdb_ddl" in v.stdout

    r = env_run("--timeout", "30")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "stopped:" in r.stdout
    import pyarrow.parquet as pq

    sink = tmp_path / "sink" / "clisrc_testdb__users"
    assert pq.read_table(sink).num_rows == 1


def test_newly_added_table_adopted_under_name_map(spark, tmp_path):
    """The adopted spec must be keyed by the MAPPED (db, table) — the same
    key lookup() computes — or the table is re-introspected every batch and
    written to the unmapped directory (SideInputProcessFunction.java:64-131
    routes side-outputs by mapped names)."""
    from flink_cdc_multi_spark.config import JobConfig
    from flink_cdc_multi_spark.sources.introspect import (
        DataFrameCatalogReader,
        introspect_schema,
    )
    from flink_cdc_multi_spark.catalog import TableRegistry
    from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline
    from pyspark.sql import types as T

    USERS = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    reader = DataFrameCatalogReader(
        spark.createDataFrame(
            _catalog_rows(),
            "table_schema string, table_name string, column_name string, "
            "type_name string, ordinal_position int",
        )
    )
    cfg = JobConfig.from_dict(
        {
            "source.id": "s1",
            "source.type": "mysql",
            "sink.path": str(tmp_path / "sink"),
            "scan.newly.added.tables": "true",
            "table.name.map": {"testdb.newtbl": "newtbl_v2"},
            "checkpoint.interval": 1,
        }
    )
    reg = TableRegistry.build(
        "mysql", {("testdb", "users"): USERS}, table_name_map=cfg.table_name_map
    )
    calls = []

    def provider(db, tbl):
        calls.append((db, tbl))
        try:
            return introspect_schema("mysql", reader, db, tbl)
        except ValueError:
            return None

    pipe = CDCPipeline(cfg, reg, schema_provider=provider)
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "f1.json").write_text(
        make_mysql_row(table="newtbl", op="c", after={"id": 5, "note": "hi"}, pos=20)
        + "\n"
    )
    query = pipe.start(spark, str(feed), str(tmp_path / "ckpt"))
    query.processAllAvailable()
    # second batch for the same table: the adopted spec must be FOUND, not
    # re-introspected
    (feed / "f2.json").write_text(
        make_mysql_row(table="newtbl", op="c", after={"id": 6, "note": "yo"}, pos=30)
        + "\n"
    )
    query.processAllAvailable()
    query.stop()

    assert calls == [("testdb", "newtbl")]  # adopted once, found thereafter
    assert "testdb.newtbl_v2" in pipe.registry.specs
    out = spark.read.parquet(str(tmp_path / "sink" / "s1_testdb__newtbl_v2"))
    assert sorted(r["id"] for r in out.collect()) == [5, 6]


# -- mongo stored-offset resolution (configureOffset order) ------------------


def _mongo_pipe(spark, tmp_path, version, stored):
    from flink_cdc_multi_spark.config import JobConfig
    from flink_cdc_multi_spark.catalog import TableRegistry
    from flink_cdc_multi_spark.streaming.pipeline import CDCPipeline
    from pyspark.sql import types as T

    cfg = JobConfig.from_dict(
        {
            "source.id": "m1",
            "source.type": "mongodb",
            "sink.path": str(tmp_path / "sink"),
            "offset.store.path": str(tmp_path / "store"),
            "mongodb.server.version": version,
            "checkpoint.interval": 1,
        }
    )
    reg = TableRegistry.build(
        "mongodb", {("appdb", "users"): T.StructType([T.StructField("x", T.LongType())])}
    )
    pipe = CDCPipeline(cfg, reg)
    if stored is not None:
        pipe.offset_store.write(stored)
    return pipe


def test_mongo_stored_offset_ignored_in_compat_mode(spark, tmp_path):
    """configureOffset folds the store into offset.value BEFORE startup
    resolution; a pre-4.0 server must then ignore the timestamp offset —
    including one that came from the offset file, not the config."""
    pipe = _mongo_pipe(spark, tmp_path, "3.6.4", stored="1700000000000")
    feed = tmp_path / "feed"
    feed.mkdir()
    query = pipe.start(spark, str(feed), str(tmp_path / "ckpt"))
    query.stop()
    assert pipe.config.offset_value is None  # stored ts offset was ignored


def test_mongo_stored_offset_validated(spark, tmp_path):
    """A malformed STORED offset gets the same timestamp-millis format
    validation as a configured one."""
    pipe = _mongo_pipe(spark, tmp_path, "6.0.0", stored="not-a-ts")
    feed = tmp_path / "feed"
    feed.mkdir()
    with pytest.raises(ValueError, match="timestamp-milliseconds"):
        pipe.start(spark, str(feed), str(tmp_path / "ckpt"))


def test_cli_mongodb_sample_file_registry(tmp_path):
    """source.type=mongodb builds its registry from document sampling
    (mongodb.sample.file), not the JDBC scheme map; without it the error is
    a clear ConfigError, not a KeyError."""
    samples = {"appdb.users": [{"_id": "a1", "n": 3, "name": "x"}] * 60}
    (tmp_path / "samples.json").write_text(json.dumps(samples))
    cfg = {
        "source.id": "mcli",
        "source.type": "mongodb",
        "sink.path": str(tmp_path / "sink"),
        "mongodb.sample.file": str(tmp_path / "samples.json"),
    }
    (tmp_path / "job.json").write_text(json.dumps(cfg))
    r = subprocess.run(
        [sys.executable, "-m", "flink_cdc_multi_spark", "-c",
         str(tmp_path / "job.json"), "--validate"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "appdb.users" in r.stdout

    # no sample file -> clear ConfigError
    cfg.pop("mongodb.sample.file")
    cfg["source.hostname"] = "mongo.example"
    (tmp_path / "job2.json").write_text(json.dumps(cfg))
    r2 = subprocess.run(
        [sys.executable, "-m", "flink_cdc_multi_spark", "-c",
         str(tmp_path / "job2.json"), "--validate"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r2.returncode != 0
    assert "mongodb.sample.file" in r2.stderr
    assert "KeyError" not in r2.stderr


def test_cli_mongo_sample_provider_sanitized_lookup(tmp_path):
    """The adoption resolver receives SANITIZED envelope names; the sample
    file is keyed by raw collection names — the provider must normalize
    both sides or 'user-events' can never be adopted as 'user_events'."""
    import json as _json

    from flink_cdc_multi_spark.__main__ import _build_mongo_registry
    from flink_cdc_multi_spark.config import JobConfig

    samples = {"appdb.user-events": [{"_id": "a", "n": 1}] * 60}
    (tmp_path / "s.json").write_text(_json.dumps(samples))
    cfg = JobConfig.from_dict(
        {
            "source.id": "m1",
            "source.type": "mongodb",
            "sink.path": str(tmp_path / "sink"),
            "mongodb.sample.file": str(tmp_path / "s.json"),
        }
    )
    registry, provider = _build_mongo_registry(cfg)
    schema = provider("appdb", "user_events")  # sanitized envelope identity
    assert schema is not None and "n" in schema.fieldNames()
    assert provider("appdb", "nope") is None


# -- shipped example configs (reference parity: the reference ships
# example-configs for mysql/oracle/mongodb/mongodb-multi + common;
# src/main/resources/example-configs/) ---------------------------------------

EXAMPLES = [
    ("mysql-job.json", "mysql", 3),
    ("postgres-job.json", "postgres", 2),
    ("oracle-job.json", "oracle", 2),
    ("mongodb-job.json", "mongodb", 1),
    ("mongodb-multi-collection-job.json", "mongodb", 3),
]


@pytest.mark.parametrize("fname,stype,n_tables", EXAMPLES)
def test_example_configs_load_and_validate(fname, stype, n_tables):
    from flink_cdc_multi_spark.config import JobConfig

    cfg = JobConfig.load(os.path.join(ROOT, "example-configs", fname))
    assert cfg.source_type == stype
    assert len(cfg.source_table_list) == n_tables
    assert cfg.sink_path and cfg.source_id
    # every _-prefixed key is a comment, reference convention — none may
    # collide with a live key when uncommented
    live = {k for k in cfg.raw if not k.startswith("_")}
    for k in cfg.raw:
        if k.startswith("_") and "." in k[1:]:
            assert k[1:] not in live or k.startswith("_comment")


def test_example_mongo_configs_pass_cli_validate():
    """The mongo example configs ship with a sample file, so `--validate`
    runs end-to-end out of the box: registry built from the samples, table
    plan printed, exit 0 — the new-user smoke the reference's
    mongodb-multi-collection-test.json exists for."""
    for fname in ("mongodb-job.json", "mongodb-multi-collection-job.json"):
        r = subprocess.run(
            [sys.executable, "-m", "flink_cdc_multi_spark",
             "-c", f"example-configs/{fname}", "--validate"],
            capture_output=True, text=True, cwd=ROOT, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        assert "table:" in r.stdout


def test_collection_list_and_name_map_aliases():
    """source.collection.list / collection.name.map are the Mongo-flavored
    aliases the reference's example configs use — they must land in the
    same fields as the table-flavored keys."""
    from flink_cdc_multi_spark.config import JobConfig

    cfg = JobConfig.from_dict(
        {
            "source.id": "m",
            "source.type": "mongodb",
            "sink.path": "/tmp/x",
            "source.collection.list": "db.a, db.b",
            "collection.name.map": {"db.a": "a_v2"},
            "table.name.map": {"db.b": "b_v9"},
        }
    )
    assert cfg.source_table_list == ["db.a", "db.b"]
    assert cfg.table_name_map == {"db.a": "a_v2", "db.b": "b_v9"}


def test_deploy_example_configs_validate(tmp_path):
    """README 'Deployment topology' contract: every config in
    example-configs/deploy must pass --validate after the artifact
    generator runs (the configs stand in for live introspection; a key
    drift here means the deployment docs lie)."""
    import glob

    r = subprocess.run(
        [sys.executable, "tools/gen_example_catalog.py"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-1000:]
    configs = sorted(glob.glob(os.path.join(ROOT, "example-configs", "deploy", "*.json")))
    assert len(configs) == 4
    for cfg in configs:
        v = subprocess.run(
            [sys.executable, "-m", "flink_cdc_multi_spark", "-c", cfg, "--validate"],
            capture_output=True, text=True, cwd=ROOT, timeout=300,
        )
        assert v.returncode == 0, (cfg, v.stderr[-2000:])
        assert "table:" in v.stdout, cfg


def test_transport_exclusivity(tmp_path):
    """Exactly one transport (feed.path | kafka.bootstrap.servers |
    kafka.standin.path) — zero or two must fail loudly, not pick one."""
    import pandas as pd

    pd.DataFrame(
        _catalog_rows(),
        columns=["table_schema", "table_name", "column_name",
                 "type_name", "ordinal_position"],
    ).to_parquet(tmp_path / "catalog.parquet")
    base = {
        "source.id": "x", "source.type": "mysql",
        "source.table.list": "testdb.users",
        "sink.path": str(tmp_path / "sink"),
        "offset.store.path": str(tmp_path / "store"),
        "catalog.file": str(tmp_path / "catalog.parquet"),
    }
    for extra in (
        {},  # zero transports
        {"feed.path": str(tmp_path), "kafka.standin.path": str(tmp_path)},  # two
    ):
        (tmp_path / "job.json").write_text(json.dumps({**base, **extra}))
        r = subprocess.run(
            [sys.executable, "-m", "flink_cdc_multi_spark",
             "-c", str(tmp_path / "job.json")],
            capture_output=True, text=True, cwd=ROOT, timeout=300,
        )
        assert r.returncode != 0
        assert "transport" in (r.stderr + r.stdout)
