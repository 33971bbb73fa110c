"""Seeded Debezium-JSON change events for ``cdc_backlog``.

Every event is a MySQL-shaped envelope with a globally increasing binlog
position, so the offset the pipeline stores after a batch says exactly
which events it has published. The events are a pure function of the
seed and the sizes asked for.
"""

from __future__ import annotations

import json
import os
import random

DB = "bench"
BINLOG = "bench-bin.000001"
COLUMNS = ("id", "grp", "amount", "note")


def table_names(n_tables: int) -> list[str]:
    return [f"t{i:02d}" for i in range(n_tables)]


class EventStream:
    """Deterministic c/u/d event source over ``n_tables`` tables.

    ``live[table]`` maps every key whose latest event is not a delete to
    its current row; it is the reference image the benchmark compares the
    pipeline's latest image against. ``log[table]`` lists the (key, binlog
    position) of every event on the table, in order: what a table that
    compaction never folds must hold, each event exactly once."""

    def __init__(self, seed: int, n_tables: int):
        self.rng = random.Random(seed)
        self.tables = table_names(n_tables)
        self.live: dict[str, dict[int, tuple]] = {t: {} for t in self.tables}
        self.log: dict[str, list[tuple[int, int]]] = {t: [] for t in self.tables}
        self._keys: dict[str, list[int]] = {t: [] for t in self.tables}
        self.next_id = 0
        self.pos = 0

    def _row(self, key: int) -> tuple:
        r = self.rng
        return (key, r.randrange(100), round(r.uniform(0, 1000), 2),
                f"n{r.randrange(1_000_000):06d}")

    def _pick_live(self, table: str) -> int | None:
        keys = self._keys[table]
        while keys:
            i = self.rng.randrange(len(keys))
            k = keys[i]
            if k in self.live[table]:
                return k
            keys[i] = keys[-1]  # lazily drop deleted keys
            keys.pop()
        return None

    def event(self, op: str, ts_ms: int) -> str:
        """One event on a random table as a JSON line. ``op`` is c, u or d;
        u/d fall back to c when the chosen table has no live key."""
        table = self.rng.choice(self.tables)
        before = after = None
        key = self._pick_live(table) if op in ("u", "d") else None
        if key is None:
            op = "c"
            key = self.next_id
            self.next_id += 1
        if op != "c":
            before = dict(zip(COLUMNS, self.live[table][key]))
        if op == "d":
            del self.live[table][key]
        else:
            row = self._row(key)
            if op == "c":
                self._keys[table].append(key)
            self.live[table][key] = row
            after = dict(zip(COLUMNS, row))
        self.pos += 1
        self.log[table].append((key, self.pos))
        return json.dumps({
            "op": op,
            "ts_ms": ts_ms,
            "before": before,
            "after": after,
            "source": {"db": DB, "table": table, "file": BINLOG, "pos": self.pos},
            "offset_file": BINLOG,
            "offset_pos": self.pos,
        })


def write_file(feed: str, index: int, text: str) -> None:
    with open(os.path.join(feed, f"f{index:06d}.json"), "w") as f:
        f.write(text)


def write_backlog(feed: str, seed: int, n_tables: int, inserts: int,
                  changes: int, n_files: int, ts_ms: int) -> EventStream:
    """A closed-loop backlog: ``inserts`` inserts spread over all tables,
    then ``changes`` updates and deletes (3:1) of earlier keys, cut into
    ``n_files`` files of equal size in position order."""
    os.makedirs(feed, exist_ok=True)
    stream = EventStream(seed, n_tables)
    lines = [stream.event("c", ts_ms) for _ in range(inserts)]
    lines += [stream.event("u" if stream.rng.random() < 0.75 else "d", ts_ms)
              for _ in range(changes)]
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        write_file(feed, i, "\n".join(lines[i * per:(i + 1) * per]) + "\n")
    return stream
