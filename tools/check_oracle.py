"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, column names, and an order-insensitive value rendering.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

The compare core (`check_one`) is importable — tests/test_adversarial_gate.py
reuses it to run the same gate against the hostile fixture from
tools/gen_adversarial_sf.py.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_cdc_multi_spark import TABLES  # noqa: E402
from flink_cdc_multi_spark.session import get_spark  # noqa: E402


def _norm(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return repr(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


_DUCK_CANON = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "int",
    "TINYINT": "int",
    "UBIGINT": "bigint",
    "DOUBLE": "double",
    "FLOAT": "double",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "DATE": "date",
}
_SPARK_CANON = {"timestamp_ntz": "timestamp"}


def canon_types(pairs, mapping):
    return {name: mapping.get(t, t.lower()) for name, t in pairs}


def oracle_connection(sf_dir: str):
    """A DuckDB connection with the standard table views over sf_dir."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def check_one(spark, con, fn, sql, sf_dir: str):
    """Run one query on Spark and its oracle on DuckDB; return
    (n_spark_rows, problems) where problems is a list of mismatch strings
    (empty = gate-green). sql=None means rows-only (no oracle)."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        return len(srows), []
    rel = con.sql(sql)
    dcols = list(rel.columns)
    dtypes = canon_types(zip(rel.columns, map(str, rel.types)), _DUCK_CANON)
    stypes = canon_types(sdf.dtypes, _SPARK_CANON)
    drows = rel.fetchall()
    problems = []
    if len(srows) != len(drows):
        problems.append(f"ROWCOUNT MISMATCH spark={len(srows)} duckdb={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"COLUMN MISMATCH spark={scols} duckdb={dcols}")
    elif stypes != dtypes:
        diff = {c: (stypes[c], dtypes[c]) for c in stypes if stypes[c] != dtypes[c]}
        problems.append(f"TYPE MISMATCH (spark,duckdb): {diff}")
    if not problems:
        sm = rows_to_multiset(srows, scols)
        dm = rows_to_multiset(drows, dcols)
        if sm != dm:
            diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:5]
            problems.append(f"VALUE MISMATCH; first diffs: {diffs}")
    return len(srows), problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[2:]) or set(qs)

    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)

    failures = []
    zero_rows = []
    for name in sorted(qs):
        if name not in only:
            continue
        if name not in oracles:
            n, _ = check_one(spark, con, qs[name], None, sf_dir)
            print(f"{name}: rows-only ({n} rows) [no oracle]")
            if n == 0:
                zero_rows.append(name)
            continue
        n, problems = check_one(spark, con, qs[name], oracles[name], sf_dir)
        for p in problems:
            print(f"{name}: {p}")
        print(f"{name}: {'OK' if not problems else 'FAIL'} ({n} rows)")
        if problems:
            failures.append(name)
        elif n == 0:
            zero_rows.append(name)

    # A 0-row match is a VACUOUS green: the per-value cross-engine contract
    # was never exercised (VERDICT r9 item 2 — q08 passed every round
    # without a single matching row). Surface it loudly so fixture gaps are
    # visible; the adversarial fixture is the place to add a hostile row.
    if zero_rows:
        print("\nZERO-ROW (vacuous) matches:", zero_rows)
    print("\nFAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
