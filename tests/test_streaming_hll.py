"""Streaming HLL distinct counter (streaming/stateful.hll_distinct_stream):
the operator's contract is EXACT merge equivalence — the streaming state
after any batch split equals the batch sketch over the union of all rows so
far, bit-for-bit (registers merge by max). Pinned here against
hll_sketch_over on the same rows, across a checkpoint restart."""

import json

from flink_cdc_multi_spark.plans.extensions import hll_sketch_over
from flink_cdc_multi_spark.streaming.stateful import hll_distinct_stream


def _feed_file(feed, name, rows):
    (feed / name).write_text("\n".join(json.dumps(r) for r in rows))


def _rows(lang, values):
    return [{"lang": lang, "token": v} for v in values]


def _latest(emissions):
    """Last emission per key across ordered (batch, rows) captures."""
    out = {}
    for _b, rows in emissions:
        for r in rows:
            out[r["lang"]] = (
                r["v_filled"], r["harmonic_scaled"], r["est_distinct"]
            )
    return out


def _batch_sketch(spark, feed):
    df = spark.read.schema("lang string, token string").json(str(feed))
    return {
        r["lang"]: (r["v_filled"], r["harmonic_scaled"], r["est_distinct"])
        for r in hll_sketch_over(
            df.filter("token is not null"), ["lang"], "token"
        ).collect()
    }


def test_stream_equals_batch_sketch_across_batches(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    _feed_file(feed, "f1.jsonl",
               _rows("en", [f"w{i}" for i in range(40)])
               + _rows("fr", ["a", "b", "c"]))
    # overlap with batch 1 (merge must absorb repeats) + new values
    _feed_file(feed, "f2.jsonl",
               _rows("en", [f"w{i}" for i in range(20, 60)])
               + _rows("fr", ["c", "d"])
               + [{"lang": "fr", "token": None}])  # NULL is not a value

    stream = (
        spark.readStream.schema("lang string, token string")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    out = hll_distinct_stream(stream, "lang", "token")
    emissions = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, b: emissions.append((b, df.collect()))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = _latest(emissions)
    want = _batch_sketch(spark, feed)
    assert got == want
    # accuracy sanity at this cardinality (en: 60 distinct, fr: 4):
    # m=64 registers → ~13% stderr, so allow ±10 on 60
    assert abs(got["en"][2] - 60) <= 10
    assert got["fr"][0] == 4 or got["fr"][2] >= 3


def test_stream_state_survives_restart(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _feed_file(feed, "f1.jsonl", _rows("en", [f"w{i}" for i in range(30)]))

    def run():
        stream = (
            spark.readStream.schema("lang string, token string")
            .option("maxFilesPerTrigger", "1")
            .json(str(feed))
        )
        out = hll_distinct_stream(stream, "lang", "token")
        emissions = []
        q = (
            out.writeStream.foreachBatch(
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
    # second run resumes from checkpointed registers: the new batch only
    # ADDS w15..w44 — the merged result must equal the batch over all rows
    _feed_file(feed, "f2.jsonl", _rows("en", [f"w{i}" for i in range(15, 45)]))
    got = _latest(run())
    assert got == _batch_sketch(spark, feed)
