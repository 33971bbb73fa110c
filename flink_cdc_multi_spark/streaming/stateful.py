"""Custom stateful streaming operators via applyInPandasWithState —
the Spark-native equivalent of the reference's keyed ProcessFunction state
(SURVEY.md §2.6: ST1-ST8 map to exactly this API when state must live
per-key inside the stream rather than driver-side).

Provided operator: per-key running status (record count + last event
timestamp + last offset) — the distributed generalization of ST8's global
counters: state is partitioned by key across executors, checkpointed by
Structured Streaming, and emitted once per key per micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("last_ts", T.LongType()),
        T.StructField("max_offset", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("record_count", T.LongType()),
        T.StructField("last_ts", T.LongType()),
        T.StructField("max_offset", T.LongType()),
    ]
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # GroupState.get is a property in PySpark (returns the state tuple)
    count, last_ts, max_off = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        count += len(pdf)
        if len(pdf):
            last_ts = max(last_ts, int(pdf["_ts"].max()))
            max_off = max(max_off, int(pdf["offset"].max()))
    state.update((count, last_ts, max_off))
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "record_count": [count],
            "last_ts": [last_ts],
            "max_offset": [max_off],
        }
    )


def running_status_by_key(
    envelope: DataFrame, key_col: str, offset_col: str
) -> DataFrame:
    """Streaming DataFrame (must contain ``_ts`` and ``offset_col``) →
    one updated status row per key per micro-batch, with per-key state
    maintained by the engine (update output mode)."""
    from pyspark.sql import functions as F

    keyed = envelope.select(
        F.col(key_col).cast("string").alias("key"),
        F.col("_ts").cast("long").alias("_ts"),
        F.col(offset_col).cast("long").alias("offset"),
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=RUNNING_STATUS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- streaming incremental view maintenance ---------------------------------
#
# The streaming twin of operators.cdc.maintain_group_agg: instead of probing
# a materialized state table per batch, each primary key's current
# (group, value) lives in per-key STREAMING STATE (checkpointed by the
# engine, partitioned across executors), and every micro-batch emits
# retract/add delta rows for the keys it touched. Summing the deltas per
# group — in foreachBatch against a stored aggregate, or client-side —
# maintains the same (cnt, total) view the batch operator proves against
# recomputation. State size is O(live keys), not O(history).

DELTA_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("d_cnt", T.LongType()),
        T.StructField("d_total", T.LongType()),
    ]
)

_DELTA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("has", T.LongType()),
        T.StructField("last_pos", T.LongType()),
    ]
)

_NEG_INF_POS = -(1 << 62)


def _delta_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key delta reduction: reduce the batch to the key's final image
    (max pos), retract/add against the previous state, and advance the
    state when anything was applied.

    Replay protection: a batch whose newest change for this key is at or
    below the applied offset is a duplicate delivery — emitting its
    deltas again would double-count, so it is dropped entirely (the
    at-least-once analogue of sources.offsets.offset_greater)."""
    g_old, v_old, has, last_pos = (
        state.get if state.exists else (None, 0, 0, _NEG_INF_POS)
    )
    best = None
    for pdf in pdfs:
        if not len(pdf):
            continue
        row = pdf.loc[pdf["pos"].idxmax()]
        if best is None or int(row["pos"]) > int(best["pos"]):
            best = row
    out_g, out_c, out_t = [], [], []
    if best is not None and int(best["pos"]) > int(last_pos):
        if has:
            out_g.append(g_old)
            out_c.append(-1)
            out_t.append(-int(v_old))
        if best["op"] != "DELETE":
            v_new = 0 if pd.isna(best["v"]) else int(best["v"])
            g_new = None if pd.isna(best["g"]) else str(best["g"])
            out_g.append(g_new)
            out_c.append(1)
            out_t.append(v_new)
            state.update((g_new, v_new, 1, int(best["pos"])))
        else:
            state.update((None, 0, 0, int(best["pos"])))
    yield pd.DataFrame({"g": out_g, "d_cnt": out_c, "d_total": out_t})


def cdc_delta_stream(
    changes: DataFrame,
    pk_col: str,
    group_col: str,
    value_col: str,
    order_col: str,
    op_col: str = "_op",
) -> DataFrame:
    """Streaming IVM delta emission: per-pk state holds the current
    (group, value, applied offset); each micro-batch reduces its changes
    per key to the final image (max offset), retracts the old
    contribution, adds the new one, and advances the state — emitting at
    most two (g, d_cnt, d_total) rows per touched key per batch.

    Replayed deliveries (offset ≤ applied) emit NOTHING, so the delta
    stream is idempotent under the feed's at-least-once contract; within
    the query, state and output commit atomically per micro-batch via the
    streaming checkpoint.

    Downstream: `SUM(d_cnt), SUM(d_total) GROUP BY g` over the deltas is
    the maintained aggregate. Spark restricts chaining an aggregation
    after applyInPandasWithState in update mode, so apply the sum in
    foreachBatch against the stored aggregate (the same merge
    operators.cdc.maintain_group_agg does) or at read time.

    Scale: state is partitioned by pk across executors and checkpointed
    incrementally (RocksDB state store on a real cluster); per-batch work
    is O(batch), per-key state O(1) — the streaming-native shape of the
    batch operator, with no materialized-state probe join at all.

    State API: applyInPandasWithState. Its successor,
    transformWithStateInPandas, needs the RocksDB state-store provider
    and the protobuf runtime (its Python state protocol is
    protobuf-serialized); a twin on it was retired without ever being
    measured, since no test environment had protobuf (PERF.md "Retired
    lanes")."""
    from pyspark.sql import functions as F

    keyed = changes.select(
        F.col(pk_col).cast("long").alias("pk"),
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("v"),
        F.col(op_col).cast("string").alias("op"),
        F.col(order_col).cast("long").alias("pos"),
    )
    return keyed.groupBy("pk").applyInPandasWithState(
        _delta_update,
        outputStructType=DELTA_SCHEMA,
        stateStructType=_DELTA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- streaming exact dedup ---------------------------------------------------
#
# Duplicate suppression across micro-batches (r15): the streaming twin of
# operators/dedup.exact_dedup, for at-least-once transports (Kafka
# redeliveries, polling overlap, replayed feeds) where the SAME content
# arrives more than once and must reach the sink exactly once. Per-digest
# engine state (checkpointed, partitioned across executors) remembers what
# has been emitted.
#
# TTL design note: GroupStateTimeout.ProcessingTimeTimeout was tried first
# and REJECTED — pending processing-time timers make the micro-batch engine
# spin continuous no-data batches under the default trigger and
# processAllAvailable (measured: ~35 batches in seconds on one idle key),
# which is pathological for a low-traffic stream. The TTL here is instead
# STORED in the state value (first-seen processing time) and evaluated only
# when the digest shows up again: same suppression horizon, zero idle work.
# The trade: state for never-seen-again digests is not reclaimed until the
# timer API is viable (transformWithState timers — they need the protobuf
# runtime, PERF.md "Retired lanes"), and a TTL decision is processing-time, so a crash
# replay CAN flip it near the boundary (at-least-once exactly at the
# horizon edge, exact inside it).

_DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen_at_ms", T.LongType())])


def dedup_stream(
    df: DataFrame,
    content_cols: list[str],
    order_col: str,
    ttl_minutes: int | None = None,
    now_ms=None,
) -> DataFrame:
    """Streaming DataFrame → first-seen rows only, deduplicated on the
    md5 digest of ``content_cols`` (the exact_dedup identity — 16-byte
    state key, never the content; NULLs are sentinel-coalesced so
    null-shifted columns cannot alias). Within one micro-batch the kept
    copy is the LOWEST ``order_col``, ties broken by a total order over
    every output column — fully attempt-invariant, so a crash-replayed
    batch promotes byte-identical rows (the exact_dedup keep=min rule
    plus the sink's replay contract); a batch whose every copy has a
    NULL order key emits nothing AND leaves the digest unseen (a later
    valid copy still emits). Across batches the first batch to see a
    digest wins and later ones emit nothing, until ``ttl_minutes`` past
    the FIRST sighting (no
    refresh: steady redelivery cannot suppress forever), after which the
    next copy re-emits and restarts the horizon. Output mode: append.

    Why not dropDuplicates(): Spark's built-in streaming dropDuplicates
    keeps state forever without an event-time watermark column. This
    form keys state by content digest, picks the within-batch
    representative by an explicit ORDER (dropDuplicates keeps an
    arbitrary copy), and bounds the suppression horizon with a
    processing-time TTL matched to transport redelivery semantics.
    ``now_ms``: injectable clock (tests); defaults to wall time."""
    import time as _time

    from pyspark.sql import functions as F

    clock = now_ms or (lambda: int(_time.time() * 1000))
    # collision-safe internal key column, and an output schema WITHOUT it
    # (r15 review: the digest leaked into every sink row, and an input
    # that already had the column broke groupBy with an ambiguous ref)
    dcol = "__fcm_dedup_digest"
    if dcol in df.columns:
        raise ValueError(f"input already has reserved column {dcol!r}")
    # NULL sentinel per column (r15 ADVICE): bare concat_ws SKIPS nulls, so
    # null-shifted adjacent columns alias to one digest ((NULL,'a') ==
    # ('a',NULL)) and genuinely distinct events suppress each other. "\x00"
    # never occurs in envelope strings (JSON text); a pathological real
    # "\x00" value aliasing NULL trades a vanishing false-suppress for the
    # common false-alias. State-key note: this changes digests, so state
    # written by the pre-r16 format won't match — one extra emit per old
    # digest after an upgrade, never a loss.
    digest = F.md5(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
              for c in content_cols],
        )
    ).alias(dcol)
    keyed = df.select(digest, "*")
    out_schema = df.schema
    ttl_ms = ttl_minutes * 60 * 1000 if ttl_minutes else None

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        now = clock()
        fresh = True
        if state.exists:
            (seen_at,) = state.get
            fresh = ttl_ms is not None and now - seen_at > ttl_ms
        if not fresh:
            for _ in pdfs:  # drain (required by the API contract)
                pass
            return
        # keep ONE running best row under (order_col, total-order key):
        # for a true redelivery the order key always ties (identical
        # content ⇒ identical _ts), so picking plain chunk-order idxmin
        # made the kept row's non-content columns (the _kafka_* triple)
        # depend on shuffle fetch order — a crash replay could promote
        # byte-different rows than the crashed attempt, violating the
        # sink's ATTEMPT-INVARIANT rule (VERDICT r15 item 3). The
        # total-order key is the repr tuple over every output column
        # (deterministic for the mixed str/int/bytes/NaN envelope types).
        # Running-minimum, never accumulation: a redelivery burst is the
        # operator's COMMON case and every copy ties, so buffering the
        # tie set would hold the whole burst in memory (r16 review) —
        # state per key stays one row regardless of burst size.
        best = None  # (order_value, key_tuple, single-row DataFrame)
        cols = None
        for pdf in pdfs:
            # NULL order keys are never chosen (the exact_dedup min_by
            # contract) — and an all-NA idxmin would otherwise raise and
            # kill the whole streaming query off one malformed record
            pdf = pdf[pdf[order_col].notna()]
            if len(pdf) == 0:
                continue
            if cols is None:
                cols = [c for c in pdf.columns if c != dcol]
            m = pdf[order_col].min()
            if best is not None and m > best[0]:
                continue
            t = pdf[pdf[order_col] == m]
            # streaming min over itertuples (positional, one key tuple
            # alive at a time — r16 review: a list() of the tie subset
            # re-materialized a single-chunk burst)
            ci = [t.columns.get_loc(c) for c in cols]
            ki, key_t = None, None
            for i, row in enumerate(t.itertuples(index=False, name=None)):
                kt = tuple(repr(row[j]) for j in ci)
                if key_t is None or kt < key_t:
                    ki, key_t = i, kt
            if best is None or m < best[0] or (
                m == best[0] and key_t < best[1]
            ):
                best = (m, key_t, t.iloc[[ki]])
        if best is None:
            # no representable row: the digest is NOT marked seen (r16 —
            # state.update used to run first, so an all-NULL-order batch
            # burned the digest and every later valid copy was suppressed
            # with nothing ever emitted)
            return
        state.update((now,))
        yield best[2].drop(columns=[dcol])

    return keyed.groupBy(dcol).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _fold_state_stream(
    proj: DataFrame,
    group_col: str,
    out_schema: T.StructType,
    state_schema: T.StructType,
    step,
) -> DataFrame:
    """Shared frame for the streaming sketches (r17, VERDICT r16 item 6):
    the HLL / CMS / histogram / top-k streams are all the same shape —
    a JVM-side projection, then per-key state folded by the sketch's
    merge op each micro-batch, then an emit — and differ only in the
    fold itself. ``step(key, state_tuple_or_None, pdfs)`` returns
    ``None`` to skip the batch untouched (no usable rows: state is NOT
    updated and nothing is emitted — the dedup-stream rule that a batch
    of unusable rows must not burn state), or
    ``(new_state_tuple, out_pdf_or_None)``.

    Everything engine-visible is fixed here once: update output mode
    (one row set per key per batch in which the key received data),
    NoTimeout (sketch state lives for the stream's lifetime by design —
    bounded per key, the whole point of a sketch; TTL'd operators like
    dedup_stream manage expiry in state instead, the stored-TTL rule),
    and the state write happening BEFORE emit."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur = tuple(state.get) if state.exists else None
        res = step(key, cur, pdfs)
        if res is None:
            return
        new_state, out = res
        state.update(new_state)
        if out is not None:
            yield out

    return proj.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HLL_STREAM_STATE_SCHEMA = T.StructType(
    [T.StructField("regs", T.ArrayType(T.LongType()))]
)


def hll_distinct_stream(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming distinct-count per group via the portable HLL sketch
    (operators/sketch.py — the r16 batch kernel): state per key is the
    64 register maxima, updated by element-wise max each micro-batch and
    finalized to (group, v_filled, harmonic_scaled, est_distinct) in
    update mode. Because the sketch merges by MAX, the streaming state
    after ANY batch split equals the batch sketch over the union of all
    rows so far — bit-for-bit, not approximately (pinned in
    tests/test_streaming_hll.py against hll_sketch_over on the same
    feed). That is the whole design: unlike a streaming
    count_distinct, state is a CONSTANT 64 longs per key no matter how
    many distinct values flow through — the only way a distinct counter
    survives an unbounded 100 TB stream.

    The hash + register + rho projection runs JVM-side BEFORE the
    stateful exchange (the shared hll_j_rho columns), so the Python
    stage only folds (j, rho) ints into the register vector; the
    per-batch shuffle carries (group, j, rho) rows. NULL values are
    dropped — NULL is not a value (the batch operator's rule). Output
    mode: update (one row per key per batch in which the key received
    data)."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.sketch import (
        HLL_REGISTERS,
        hll_estimate_py,
        hll_j_rho,
    )

    j, rho = hll_j_rho(F.col(value_col))
    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias(group_col),
            j.alias("j"),
            rho.alias("rho"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("v_filled", T.LongType()),
            T.StructField("harmonic_scaled", T.LongType()),
            T.StructField("est_distinct", T.LongType()),
        ]
    )

    def step(key, cur, pdfs):
        regs = list(cur[0]) if cur else [0] * HLL_REGISTERS
        for pdf in pdfs:
            for jj, rr in pdf.groupby("j")["rho"].max().items():
                jj, rr = int(jj), int(rr)
                if rr > regs[jj]:
                    regs[jj] = rr
        v_filled, harmonic, est = hll_estimate_py(regs)
        return (regs,), pd.DataFrame(
            {
                group_col: [key[0]],
                "v_filled": [v_filled],
                "harmonic_scaled": [harmonic],
                "est_distinct": [est],
            }
        )

    return _fold_state_stream(
        proj, group_col, out_schema, _HLL_STREAM_STATE_SCHEMA, step
    )


_CMS_STREAM_STATE_SCHEMA = T.StructType(
    [T.StructField("cells", T.ArrayType(T.LongType()))]
)


def cms_freq_stream(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming frequency estimation per group via the count-min sketch
    (operators/sketch.py — the ext_sketch_cms kernel): state per key is
    the d·w = 1024 int64 cells, folded by cell-wise SUM each micro-batch
    (CMS's merge op), and every batch emits (group, value, est_count)
    for each DISTINCT value seen in that batch — the estimate taken
    AFTER folding the batch, i.e. the running heavy-hitter loop: a
    downstream filter on est_count ≥ threshold is the streaming top-k
    candidate feed, and topk_freq_stream (r17) is the bounded-state
    maintainer that turns it into an actual top-k set. Because cells merge by sum, the estimate for a value
    after batch k equals the batch CMS estimate over the union of
    batches 1..k EXACTLY (pinned in tests/test_streaming_cms.py against
    a pure-Python reference sharing cms_indices_py), and it inherits
    CMS's one-sided guarantee: est ≥ true count, overshoot ≤ εN.

    State is a CONSTANT 8 KB per key no matter how many distinct values
    flow through — the same unbounded-stream property as
    hll_distinct_stream, for frequencies instead of cardinality. The
    xxhash64 h1/h2 derivation runs JVM-side before the stateful exchange; the
    Python stage only folds integer indices (vectorized np.add.at).
    NULL values are dropped (NULL is not a value). Output mode: update.

    Checkpoints written while this state was indexed by md5-hash60 (last
    at commit 076a4ea) must be discarded, not resumed: their counts sit
    at md5-derived cells, new occurrences land at xxhash64-derived ones,
    and an estimate could then fall below the true count."""
    import numpy as np
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.sketch import CMS_D, CMS_W, cms_h1_h2

    h1, h2 = cms_h1_h2(F.col(value_col))
    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(value_col).cast("string").alias(value_col),
            h1.alias("h1"),
            h2.alias("h2"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField(value_col, T.StringType()),
            T.StructField("est_count", T.LongType()),
        ]
    )
    n_cells = CMS_D * CMS_W

    def step(key, cur, pdfs):
        cells = (
            np.array(cur[0], dtype=np.int64)
            if cur
            else np.zeros(n_cells, dtype=np.int64)
        )
        # batch occurrence counts per distinct (value, h1, h2)
        seen: dict[str, tuple[int, int, int]] = {}
        for pdf in pdfs:
            g = pdf.groupby([value_col, "h1", "h2"]).size()
            for (v, a, b), cnt in g.items():
                a, b, cnt = int(a), int(b), int(cnt)
                if v in seen:
                    seen[v] = (a, b, seen[v][2] + cnt)
                else:
                    seen[v] = (a, b, cnt)
        if not seen:
            return None
        # fold the batch into the cells (np.add.at handles the colliding
        # indices an ordinary fancy-assign would silently drop)
        for r in range(CMS_D):
            idx = np.fromiter(
                ((a + r * b) % CMS_W + r * CMS_W
                 for (a, b, _) in seen.values()),
                dtype=np.int64, count=len(seen),
            )
            np.add.at(
                cells, idx,
                np.fromiter((c for (_, _, c) in seen.values()),
                            dtype=np.int64, count=len(seen)),
            )
        ests = [
            int(min(cells[(a + r * b) % CMS_W + r * CMS_W]
                    for r in range(CMS_D)))
            for (a, b, _) in seen.values()
        ]
        return (cells.tolist(),), pd.DataFrame(
            {
                group_col: [key[0]] * len(seen),
                value_col: list(seen.keys()),
                "est_count": ests,
            }
        )

    return _fold_state_stream(
        proj, group_col, out_schema, _CMS_STREAM_STATE_SCHEMA, step
    )


_MOMENTS_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("q", T.LongType()),
    ]
)


def outlier_moments_stream(
    df: DataFrame,
    group_col: str,
    value_col: str,
    clamp: int = 100_000,
) -> DataFrame:
    """Streaming per-group moment maintenance for the exact 3σ outlier
    test (r17) — the seventh stateful op on _fold_state_stream, and the
    streaming twin of ext_events_outliers' moment table: state per key
    is (n, S=Σx, Q=Σx²) over the clamped integer quantization — sums
    are LOSSLESS-mergeable, so the state after any batch split equals
    the batch moments over the union bit-for-bit (the HLL/minhash pin
    class; tests/test_streaming_outliers.py incl. restart). Each batch
    emits (group, n, s, q, n_batch_outliers): the count of THIS batch's
    values that are 3σ outliers against the RUNNING moments after the
    fold — the (n·x−S)² > 9·(n·Q−S²) cross-multiplied integer test
    (exact in Python's arbitrary ints; the batch query's
    DECIMAL/HUGEINT contract), var=0 emits none. The clamp (the batch
    op's ±10⁵ rail) bounds Q so int64 state survives ~10¹² rows per
    key. NULL values drop; the quantization floor(v+0.5) is computed
    JVM-side so Python folds plain ints."""
    from pyspark.sql import functions as F

    x = (
        F.least(
            F.greatest(F.floor(F.col(value_col) + F.lit(0.5)),
                       F.lit(-clamp)),
            F.lit(clamp),
        )
    ).cast("bigint")
    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias(group_col),
            x.alias("x"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
            T.StructField("q", T.LongType()),
            T.StructField("n_batch_outliers", T.LongType()),
        ]
    )

    def step(key, cur, pdfs):
        n, s, q = (int(cur[0]), int(cur[1]), int(cur[2])) if cur else (0, 0, 0)
        xs = []
        for pdf in pdfs:
            xs.extend(int(v) for v in pdf["x"])
        if not xs:
            return None
        for v in xs:
            n += 1
            s += v
            q += v * v
        nvar = n * q - s * s
        out = 0
        if nvar > 0:
            out = sum(1 for v in xs if (n * v - s) ** 2 > 9 * nvar)
        return (n, s, q), pd.DataFrame(
            {
                group_col: [key[0]],
                "n": [n],
                "s": [s],
                "q": [q],
                "n_batch_outliers": [out],
            }
        )

    return _fold_state_stream(
        proj, group_col, out_schema, _MOMENTS_STREAM_STATE_SCHEMA, step
    )


_MINHASH_STREAM_STATE_SCHEMA = T.StructType(
    [T.StructField("sig", T.ArrayType(T.LongType()))]
)


def minhash_sig_stream(
    df: DataFrame,
    group_col: str,
    value_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """Streaming MinHash signature per group (r17) — the sixth stateful
    sketch, and the frame's proof-of-point: ~30 lines on
    _fold_state_stream. State per key is the K-long signature
    sig[k] = min over all values seen of xxhash64(k, value) — the batch
    kernel's exact hash family (operators/dedup.minhash_signatures:
    ``xxhash64(lit(k), value)``), so two streamed corpora's signatures
    estimate their Jaccard overlap exactly like the batch LSH path's.
    MIN is lossless-mergeable (the HLL-max property): the state after
    ANY batch split equals the batch signature over the union —
    bit-for-bit, pinned in tests/test_streaming_minhash.py incl. a
    checkpoint restart. The K hashes run JVM-side before the stateful
    exchange (one array column); Python folds elementwise min. NULL
    values are dropped. Output mode: update — (group, sig) per active
    key per batch."""
    from pyspark.sql import functions as F

    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias(group_col),
            F.array(
                *[
                    F.xxhash64(F.lit(k), F.col(value_col))
                    for k in range(num_hashes)
                ]
            ).alias("hs"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    def step(key, cur, pdfs):
        import numpy as np

        sig = (
            np.array(cur[0], dtype=np.int64)
            if cur
            else np.full(num_hashes, np.iinfo(np.int64).max, dtype=np.int64)
        )
        got = False
        for pdf in pdfs:
            if len(pdf):
                got = True
                batch_min = np.vstack(pdf["hs"].to_numpy()).min(axis=0)
                sig = np.minimum(sig, batch_min)
        if not got:
            return None
        out = sig.tolist()
        return (out,), pd.DataFrame({group_col: [key[0]], "sig": [out]})

    return _fold_state_stream(
        proj, group_col, out_schema, _MINHASH_STREAM_STATE_SCHEMA, step
    )


_TOPK_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("vals", T.ArrayType(T.StringType())),
        T.StructField("cnts", T.ArrayType(T.LongType())),
    ]
)


def topk_freq_stream(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int | None = None,
) -> DataFrame:
    """Streaming bounded top-k heavy hitters per group (r17, VERDICT r16
    item 1) — the CONSTANT-state consumer the CMS candidate feed was
    missing: cms_freq_stream emits per-batch distinct values with
    estimates (unbounded per batch), this maintains an actual ≤ k-entry
    top-k set per key via Misra–Gries counters.

    State per key is ≤ k (value, counter) pairs, folded each micro-batch
    by the standard MG merge — exact batch counts summed counter-wise,
    then compressed by the (k+1)-th-largest decrement
    (operators/sketch.mg_merge_py, the SAME kernel the batch query
    ext_topk_freq's shard compress replays in SQL). Every surviving
    counter is a LOWER bound on the value's true count since stream
    start, undercount ≤ N/(k+1) per compress — so a value that exceeds
    that mass is GUARANTEED present (the classic MG promise), which is
    what a 100 TB token-statistics stream needs: the state never grows,
    no matter how many distinct values flow through.

    Emission per batch per active key: the current summary as
    (group, rnk, value, est_lb), ranked (est_lb DESC, value ASC) — the
    batch query's deterministic order. Because MG compress is LOSSY, the
    fold result depends on the batch-split tree (unlike the max/sum
    sketches) — so the cross-split pin is against the shared Python
    kernel replaying the same splits, plus single-batch == batch-query
    compress, plus checkpoint-restart bit-equality
    (tests/test_streaming_topk.py). NULL values are dropped (NULL is
    not a value). Output mode: update."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.sketch import MG_K, mg_merge_py

    kk = MG_K if k is None else k
    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(value_col).cast("string").alias(value_col),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("rnk", T.LongType()),
            T.StructField(value_col, T.StringType()),
            T.StructField("est_lb", T.LongType()),
        ]
    )

    def step(key, cur, pdfs):
        counters = dict(zip(cur[0], map(int, cur[1]))) if cur else {}
        batch: dict[str, int] = {}
        for pdf in pdfs:
            for v, c in pdf.groupby(value_col).size().items():
                batch[v] = batch.get(v, 0) + int(c)
        if not batch:
            return None
        counters = mg_merge_py(counters, batch, kk)
        # canonical state order (value ASC) so a restarted query's state
        # round-trips bit-identically regardless of dict insertion order
        vals = sorted(counters)
        top = sorted(counters.items(), key=lambda vc: (-vc[1], vc[0]))
        return (vals, [counters[v] for v in vals]), pd.DataFrame(
            {
                group_col: [key[0]] * len(top),
                "rnk": range(1, len(top) + 1),
                value_col: [v for v, _ in top],
                "est_lb": [c for _, c in top],
            }
        )

    return _fold_state_stream(
        proj, group_col, out_schema, _TOPK_STREAM_STATE_SCHEMA, step
    )


_HIST_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("buckets", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def histogram_stream(
    df: DataFrame,
    group_col: str,
    value_col: str,
    grid: int = 16,
) -> DataFrame:
    """Streaming quantile sketch per group — the fixed-grid histogram of
    ext_sketch_histogram as per-key state (the fourth streaming sketch
    next to exact dedup / HLL / count-min): state is the SPARSE
    (bucket, count) vector, folded by bucket-count addition each
    micro-batch (the histogram's merge op), and every batch emits
    (group, n_docs, p50_lb, p90_lb, p99_lb) under the batch query's
    exact contract — bucket = value div grid, quantile = grid·(first
    bucket whose cumulative count reaches ceil(q·n)) — so the stream
    after any batch split equals the batch sketch over the union
    (pinned in tests/test_streaming_histogram.py against
    ext_sketch_histogram itself on the same rows).

    State is bounded by the VALUE RANGE (|buckets| ≤ max_value/grid),
    not the stream length — fine for length-like metrics; pick ``grid``
    to bound it for wide domains. NULL values are dropped. The bucket
    projection runs JVM-side; Python folds integer pairs. Output mode:
    update."""
    from pyspark.sql import functions as F

    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias(group_col),
            F.expr(
                f"CAST({value_col} AS BIGINT) div {int(grid)}"
            ).alias("bucket"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("p50_lb", T.LongType()),
            T.StructField("p90_lb", T.LongType()),
            T.StructField("p99_lb", T.LongType()),
        ]
    )

    def step(key, cur, pdfs):
        hist: dict[int, int] = dict(zip(cur[0], cur[1])) if cur else {}
        got_rows = False
        for pdf in pdfs:
            for b, c in pdf.groupby("bucket").size().items():
                hist[int(b)] = hist.get(int(b), 0) + int(c)
                got_rows = True
        if not got_rows:
            return None
        bks = sorted(hist)
        n = sum(hist.values())

        def q_lb(q_num: int, q_den: int) -> int:
            cum = 0
            for b in bks:
                cum += hist[b]
                if cum * q_den >= n * q_num:
                    return b * grid
            return bks[-1] * grid  # unreachable: cum==n covers q<=1

        return (bks, [hist[b] for b in bks]), pd.DataFrame(
            {
                group_col: [key[0]],
                "n_docs": [n],
                "p50_lb": [q_lb(1, 2)],
                "p90_lb": [q_lb(9, 10)],
                "p99_lb": [q_lb(99, 100)],
            }
        )

    return _fold_state_stream(
        proj, group_col, out_schema, _HIST_STREAM_STATE_SCHEMA, step
    )
