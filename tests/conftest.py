import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_cdc_multi_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


def make_mysql_row(
    db="testdb",
    table="users",
    op="c",
    ts_ms=1700000000000,
    before=None,
    after=None,
    file="mysql-bin.000001",
    pos=1000,
    offset_file=None,
    offset_pos=None,
    snapshot="false",
):
    import json

    return json.dumps(
        {
            "op": op,
            "ts_ms": ts_ms,
            "before": before,
            "after": after,
            "source": {
                "db": db,
                "table": table,
                "file": file,
                "pos": pos,
                "snapshot": snapshot,
            },
            "offset_file": offset_file or file,
            "offset_pos": offset_pos if offset_pos is not None else pos,
        }
    )


def make_mysql_ddl(
    db="testdb",
    table="users",
    ddl="ALTER TABLE users ADD COLUMN x INT",
    ts_ms=1700000000000,
    file="mysql-bin.000001",
    pos=2000,
):
    import json

    return json.dumps(
        {
            "ddl": ddl,
            "ts_ms": ts_ms,
            "source": {"db": db, "table": table, "file": file, "pos": pos},
            "offset_file": file,
            "offset_pos": pos,
        }
    )
