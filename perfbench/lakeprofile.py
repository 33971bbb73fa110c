"""Print the shape figures of a lake directory, to compare the lake that
lakegen.py writes with the project's test data:

    python3 perfbench/lakeprofile.py LAKE_DIR [LAKE_DIR ...]

One line per figure, one column per directory: row counts, document
vocabulary, words per document, share of documents that copy an earlier
one with " dup" appended, language shares, lines per order, share of
orders with lines, line-number range, ship-date and order-date ranges,
distinct users, part-name vocabulary and embedding width.
"""

from __future__ import annotations

import collections
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("customer supplier part orders lineitem events documents "
          "embeddings").split()


def profile(d: str) -> dict[str, object]:
    def read(name: str, cols=None):
        return pq.read_table(f"{d}/{name}.parquet", columns=cols)

    out: dict[str, object] = {
        f"rows.{t}": pq.read_metadata(f"{d}/{t}.parquet").num_rows for t in TABLES}
    doc = read("documents", ["text", "lang"]).to_pydict()
    texts = doc["text"]
    known = set(texts)
    out["doc.vocabulary"] = len({w for x in texts for w in x.split()})
    out["doc.words_mean"] = round(float(np.mean([len(x.split()) for x in texts])), 1)
    out["doc.dup_share"] = round(sum(x.endswith(" dup") and x[:-4] in known
                                     for x in texts) / len(texts), 3)
    langs = collections.Counter(doc["lang"])
    out["doc.lang_en_share"] = round(langs["en"] / len(texts), 2)
    out["doc.langs"] = len(langs)
    li = read("lineitem", ["l_orderkey", "l_linenumber", "l_shipdate"])
    per_order = np.unique(li["l_orderkey"].to_numpy(), return_counts=True)[1]
    out["lineitem.lines_per_order"] = round(float(per_order.mean()), 2)
    out["lineitem.max_lines_per_order"] = int(per_order.max())
    out["orders.with_lines_share"] = round(len(per_order) / out["rows.orders"], 3)
    out["lineitem.linenumber"] = tuple(
        v.as_py() for v in pc.min_max(li["l_linenumber"]).values())
    out["lineitem.shipdate"] = tuple(
        str(v.as_py().date()) for v in pc.min_max(li["l_shipdate"]).values())
    od = read("orders", ["o_orderdate"])["o_orderdate"]
    out["orders.orderdate"] = tuple(
        str(v.as_py().date()) for v in pc.min_max(od).values())
    out["events.users"] = len(pc.unique(read("events", ["user_id"])["user_id"]))
    names = read("part", ["p_name"])["p_name"].to_pylist()
    out["part.name_vocabulary"] = len({w for x in names for w in x.split()})
    emb = read("embeddings", ["embedding"])["embedding"]
    out["embeddings.width"] = len(emb[0].as_py())
    return out


def main(dirs: list[str]) -> None:
    profiles = [profile(d) for d in dirs]
    print("figure", *dirs, sep="\t")
    for key in profiles[0]:
        print(key, *[p[key] for p in profiles], sep="\t")


if __name__ == "__main__":
    main(sys.argv[1:])
