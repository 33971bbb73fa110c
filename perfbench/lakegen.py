"""Seeded synthetic lake for ``lake_queries``: the ten tables the query
registry reads (a TPC-H-shaped star, an events stream, a document corpus
and an embedding table), with the column names and physical types of the
project's test data and the shapes measured on it (``lakeprofile.py``
prints them for any lake): the same row counts per sf (sf 0.1 = 600k
lineitem rows, at least 500 documents and embeddings), uniform key and
value draws, about 4 lines per order on uniformly drawn order keys with
line numbers 1-7 and ship dates drawn apart from the order date, a
30-word document vocabulary, and 5 % of the documents a copy of an
earlier one with " dup" appended.

    python3 perfbench/lakegen.py OUT_DIR SEED SF
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _epoch_us(y: int, m: int, d: int) -> int:
    import datetime as dt

    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    r = np.random.default_rng(seed)
    n = {k: max(int(v * sf), 50) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, documents=50_000,
        embeddings=20_000).items()}
    n["documents"] = max(n["documents"], 500)
    n["embeddings"] = max(n["embeddings"], 500)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": r.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                  "AUTOMOBILE", "HOUSEHOLD"], c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    keys = np.arange(p, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, p), r.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, p)],
        "p_type": r.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                            "ECONOMY"], p),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2)})
    o = n["orders"]
    odate = _epoch_us(1995, 1, 1) + r.integers(0, 2405, o) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": r.integers(0, c, o),
        "o_orderstatus": r.choice(["P", "O", "F"], o),
        "o_totalprice": np.round(r.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    qty = r.integers(1, 51, li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, o, li),
        "l_partkey": r.integers(0, p, li),
        "l_suppkey": r.integers(0, s, li),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(r.uniform(900, 105000, li), 2),
        "l_discount": np.round(r.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, li) / 100, 2),
        "l_returnflag": r.choice(["R", "A", "N"], li),
        "l_linestatus": r.choice(["O", "F"], li),
        "l_shipdate": _ts(_epoch_us(1995, 1, 1) + (r.integers(0, 2405, li)
                                                   + r.integers(1, 96, li)) * DAY_US)})
    e = n["events"]
    start = _epoch_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(np.sort(start + r.integers(0, 30 * DAY_US, e))),
        "user_id": r.integers(0, max(int(15_000 * sf), 10), e),
        "event_type": r.choice(["signup", "purchase", "view", "click", "error"], e),
        "value": np.round(r.exponential(50, e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i, k in enumerate(r.integers(10, 101, d)):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, k)))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": r.choice(["en", "en", "en", "zh", "es", "fr", "de"], d),
        "source": [f"src{i}" for i in r.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    m = n["embeddings"]
    v = r.standard_normal((m, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32())})
    return out


def write(out_dir: str, seed: int, sf: float, names=None) -> None:
    """The lake of ``seed`` and ``sf``, or only the tables in ``names``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        if names is None or name in names:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
