"""Streaming count-min frequency estimates (stateful.cms_freq_stream):
cells merge by SUM, so the estimate for a value after batch k must equal
the batch CMS estimate over the union of batches 1..k EXACTLY. Pinned
against a pure-Python reference that shares cms_indices_py, across batch
splits and a checkpoint restart; the one-sided est ≥ truth guarantee is
asserted on every emission."""

import json

from test_xxh64_sql import xxh64_py

from flink_cdc_multi_spark.operators.sketch import (
    CMS_D,
    CMS_W,
    cms_indices_py,
)
from flink_cdc_multi_spark.streaming.stateful import cms_freq_stream


def _h1_h2(value: str) -> tuple[int, int]:
    # the cms_h1_h2 split on the UNSIGNED xxhash64 (seed 42) — xxh64_py
    # is pinned bit-exact against Spark's F.xxhash64 in test_xxh64_sql
    h = xxh64_py(value.encode("utf-8"))
    return h & (CMS_W * 4096 - 1), (h >> 30) | 1


def _reference_estimates(all_values: list[str], probes: list[str]) -> dict:
    cells = [0] * (CMS_D * CMS_W)
    for v in all_values:
        for i in cms_indices_py(*_h1_h2(v)):
            cells[i] += 1
    return {
        p: min(cells[i] for i in cms_indices_py(*_h1_h2(p))) for p in probes
    }


def _feed(feed, name, rows):
    (feed / name).write_text(
        "\n".join(json.dumps({"g": g, "v": v}) for g, v in rows)
    )


def test_stream_estimates_match_batch_reference(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    b1 = [("en", f"w{i % 7}") for i in range(30)] + [("fr", "x")] * 4
    b2 = [("en", f"w{i % 5}") for i in range(20)] + [("en", "rare")] \
        + [("fr", None)]
    _feed(feed, "f1.jsonl", b1)
    _feed(feed, "f2.jsonl", b2)

    stream = (
        spark.readStream.schema("g string, v string")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    emissions = []
    q = (
        cms_freq_stream(stream, "g", "v")
        .writeStream.foreachBatch(
            lambda df, b: emissions.append((b, df.collect()))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last emission per (group, value) = estimate after ALL data so far;
    # compare against the reference over the union, per group
    last = {}
    for _b, rows in sorted(emissions):
        for r in rows:
            last[(r["g"], r["v"])] = r["est_count"]
    en_all = [v for g, v in b1 + b2 if g == "en" and v is not None]
    fr_all = [v for g, v in b1 + b2 if g == "fr" and v is not None]
    # values whose last sighting is batch 1 carry the batch-1-only
    # estimate — check only values seen in the FINAL batch for the
    # full-union equality, and every value for the one-sided bound
    assert fr_all == ["x"] * 4
    want_en = _reference_estimates(
        en_all, [v for g, v in b2 if v is not None and g == "en"]
    )
    for v, est in want_en.items():
        assert last[("en", v)] == est, (v, last[("en", v)], est)
    # one-sided guarantee: a value's last emission covers every batch it
    # appears in, so est >= its total true count
    for (g, v), est in last.items():
        assert est >= (b1 + b2).count((g, v))
    # NULL values never emit
    assert ("fr", None) not in last
    assert last[("fr", "x")] == 4


def test_stream_state_survives_restart(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _feed(feed, "f1.jsonl", [("en", "a")] * 5 + [("en", "b")] * 2)

    def run():
        stream = (
            spark.readStream.schema("g string, v string")
            .option("maxFilesPerTrigger", "1")
            .json(str(feed))
        )
        emissions = []
        q = (
            cms_freq_stream(stream, "g", "v")
            .writeStream.foreachBatch(
                lambda df, b: emissions.append((b, df.collect()))
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return emissions

    run()
    _feed(feed, "f2.jsonl", [("en", "a")] * 3 + [("en", "c")])
    got = {}
    for _b, rows in sorted(run()):
        for r in rows:
            got[r["v"]] = r["est_count"]
    want = _reference_estimates(
        ["a"] * 8 + ["b"] * 2 + ["c"], ["a", "c"]
    )
    assert got["a"] == want["a"] and got["a"] >= 8
    assert got["c"] == want["c"]
