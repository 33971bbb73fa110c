"""Portable sketch kernels (HLL + count-min) — shared by the batch sketch
queries (plans/extensions.hll_sketch_over → ext_sketch_hll /
ext_sketch_hll_merge, ext_sketch_cms) and the streaming counters
(streaming/stateful.hll_distinct_stream / cms_freq_stream).

The whole point of HLL at 100 TB is that the sketch IS its own partial
aggregate: 64 six-bit registers per group, merged by element-wise MAX — so
map tasks collapse to ≤ |groups|·64 rows before the one exchange, shards
union by the same max, and a streaming state per key is the same 64 longs
updated by the same max. Keeping the j/rho projection and the estimator in
ONE module guarantees a batch sketch, a merged-shard sketch, and a
streaming sketch over the same values are BIT-IDENTICAL (pinned in
tests/test_streaming_hll.py and the ext_sketch_hll_merge oracle).

Hash contract (see ext_sketch_hll's docstring for the full rationale):
one JVM xxhash64 call per value (3.0 → 1.7 s over 500k sf10 docs against
the md5-hash60 form it replaced, PERF.md r16), oracle-gated: DuckDB
replays the exact xxhash64 bits through the generated XXH64 chain in
functions/xxh64_sql. rho is computed by a 6-step integer binary search
(no float log2 whose libm rounding could diverge engines, no per-token
string alloc). The estimator's one floating op — floor(C / harmonic) — is IEEE
division of a shared decimal constant, identical cross-engine; the
small-range linear-counting correction uses 63 PRE-COMPUTED integers
(``HLL_LC``) because ln() is libm- not IEEE-specified and must never
execute inside either engine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_REGISTERS = 64
HLL_KMAX = 55  # fixed-point scale: registers contribute 2^(KMAX - m)
# alpha_m·m²·2^KMAX for m=64 registers; the oracle embeds the same value
# as the decimal literal 1.046802484394006e+20 — both parse to the same
# IEEE double, so the one floating division is bit-identical cross-engine.
HLL_C = 0.7093409548395029 * 64 * 64 * 2.0**HLL_KMAX

# Small-range (linear counting) estimates m·ln(m/V_empty) for
# v_filled = 1..63, PRECOMPUTED in Python and embedded as the same integer
# literals on both engine sides (the BPE generated-oracle pattern).
HLL_LC = tuple(
    int(round(64 * math.log(64 / (64 - v)))) for v in range(1, 64)
)


def hll_j_rho(value_col: Column) -> tuple[Column, Column]:
    """(register index, rho) columns for one hashed value: full 64-bit
    xxhash64 — top 6 bits → register, rho = leading-zero rank of the
    remaining 58. rho is capped at 55 so the fixed-point harmonic scale
    stays 2^55 (at a 2^59 scale, empties·2^59 overflows int64 for ≥16
    empty registers and ANSI mode kills the job — the r16 review
    finding)."""
    h = F.xxhash64(value_col)
    rem_bits = 58
    j = F.shiftrightunsigned(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    # bit_length(rem) by 6-step integer binary search — value-identical
    # to the oracle's string-position form but pure comparisons/shifts in
    # one codegen stage (the bin+lpad+instr string rendering allocated
    # per TOKEN and owned the sf10 scan wall; PERF.md r16)
    bitlen = F.lit(0)
    r = rem
    for sh in (32, 16, 8, 4, 2, 1):
        over = r >= F.lit(1 << sh)
        bitlen = bitlen + F.when(over, F.lit(sh)).otherwise(F.lit(0))
        r = F.when(over, F.shiftright(r, sh)).otherwise(r)
    rho = F.least(
        F.lit(rem_bits + 1) - (bitlen + r.cast("int")), F.lit(HLL_KMAX)
    )
    return j, rho


def hll_finalize(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Register rows (group_cols..., m = max rho per filled register) →
    per-group (v_filled, harmonic_scaled, est_distinct). Exact int64
    except the single IEEE division; small-range correction via the
    shared HLL_LC table."""
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_KMAX} - m AS INT))"
    )
    return (
        regs.groupBy(*group_cols)
        .agg(
            F.count("*").cast("bigint").alias("v_filled"),
            (
                F.sum(term)
                + (F.lit(HLL_REGISTERS) - F.count("*"))
                * F.lit(1 << HLL_KMAX)
            ).cast("bigint").alias("harmonic_scaled"),
        )
        .select(
            *group_cols,
            "v_filled",
            "harmonic_scaled",
            F.floor(
                F.lit(HLL_C) / F.col("harmonic_scaled").cast("double")
            ).cast("bigint").alias("raw_est"),
        )
        .select(
            *group_cols,
            "v_filled",
            "harmonic_scaled",
            F.when(
                (F.col("v_filled") < HLL_REGISTERS)
                & (F.col("raw_est") <= 160),
                F.element_at(
                    F.array(*[F.lit(x) for x in HLL_LC]),
                    F.col("v_filled").cast("int"),
                ).cast("bigint"),
            ).otherwise(F.col("raw_est")).alias("est_distinct"),
        )
    )


def hll_estimate_py(regs: list[int]) -> tuple[int, int, int]:
    """Pure-Python replica of :func:`hll_finalize` for ONE register
    vector (the streaming operator finalizes driver/executor-side from
    its per-key state). Must stay op-for-op identical: same fixed-point
    harmonic, same IEEE division of HLL_C, same floor, same HLL_LC
    branch — pinned against the batch path in tests."""
    if len(regs) != HLL_REGISTERS:
        raise ValueError(f"expected {HLL_REGISTERS} registers")
    v_filled = sum(1 for m in regs if m > 0)
    if v_filled == 0:
        return 0, HLL_REGISTERS * (1 << HLL_KMAX), 0
    harmonic = sum(1 << (HLL_KMAX - m) for m in regs if m > 0) + (
        HLL_REGISTERS - v_filled
    ) * (1 << HLL_KMAX)
    raw = math.floor(HLL_C / float(harmonic))
    if v_filled < HLL_REGISTERS and raw <= 160:
        return v_filled, harmonic, int(HLL_LC[v_filled - 1])
    return v_filled, harmonic, int(raw)


# ---------------------------------------------------------------------------
# Count-min kernel (shared by plans/extensions.ext_sketch_cms and the
# streaming heavy-hitter estimator streaming/stateful.cms_freq_stream).
# Kirsch–Mitzenmacher double hashing off ONE xxhash64: col_r =
# (h1 + r·h2) mod CMS_W with h2 forced odd — one hash per occurrence,
# replayed as identical integer arithmetic by the DuckDB oracle.
CMS_D, CMS_W = 4, 256


def cms_h1_h2(value_col: Column) -> tuple[Column, Column]:
    """(h1, h2) columns for the Kirsch–Mitzenmacher row-column derivation,
    split exactly as ext_sketch_cms's oracle replays it: one JVM xxhash64
    call (replayed in DuckDB by the generated XXH64 chain in
    functions/xxh64_sql), h1/h2 taken from the unsigned 64-bit pattern —
    low 20 bits and bits 30.. via shiftrightUNSIGNED (the hash is signed
    on the Spark side, so arithmetic %/>> would diverge from the
    oracle's unsigned ``%``/``//``; the bit ops are sign-free on both)."""
    h = F.xxhash64(value_col)
    h1 = h.bitwiseAND(F.lit(CMS_W * 4096 - 1))
    h2 = F.shiftrightunsigned(h, 30).bitwiseOR(F.lit(1))
    return h1, h2


def cms_indices_py(h1: int, h2: int) -> list[int]:
    """Flattened cell indices (r·CMS_W + col_r) for one value — the
    pure-Python replica of the engine-side derivation (streaming state
    updates and test references share it)."""
    return [r * CMS_W + (h1 + r * h2) % CMS_W for r in range(CMS_D)]


# ---------------------------------------------------------------------------
# Bloom filter kernel (r17): the mergeable MEMBERSHIP sketch completing
# the family — HLL answers "how many distinct", KMV "how similar two
# sets", CMS "how often", the histogram "how distributed", Bloom "is x
# present" in fixed space with NO false negatives (one-sided, like CMS).
# Filters merge by cell-wise bit OR — like HLL's max, the cheapest
# possible combine, so per-partition filters ARE the partial aggregate
# and shards/days union for free.
#
# Geometry: BLOOM_M bits as 32-bit words stored in BIGINT cells (32, not
# 64: DuckDB's `1 << 63` overflow-errors and a sign bit would poison
# bit_count parity — positive masks sidestep every sign trap), probed at
# BLOOM_K positions derived Kirsch–Mitzenmacher-style off ONE xxhash64
# (the r17 portable-hash contract): pos_i = (h1 + i·h2) mod M, h2 odd.
BLOOM_M = 1 << 18  # 262144 bits = 8192 words/group: ~0.5% fp at 20k keys
BLOOM_K = 4
BLOOM_WORD = 32


def bloom_h1_h2(value_col: Column) -> tuple[Column, Column]:
    """(h1, h2) for the Bloom probe derivation, from the unsigned
    xxhash64 bit pattern (bit ops, not arithmetic %/>>: the hash is
    signed on the Spark side — the cms_h1_h2 rule). The DuckDB oracle
    replays as ``h % M`` / ``(h // M) % M | 1`` on the unsigned chain
    output."""
    h = F.xxhash64(value_col)
    h1 = h.bitwiseAND(F.lit(BLOOM_M - 1))
    h2 = (
        F.shiftrightunsigned(h, 18).bitwiseAND(F.lit(BLOOM_M - 1))
        .bitwiseOR(F.lit(1))
    )
    return h1, h2


# ---------------------------------------------------------------------------
# Misra–Gries bounded top-k kernel (r17, VERDICT r16 item 1): the
# CONSTANT-state heavy-hitter maintainer that turns cms_freq_stream's
# unbounded per-batch candidate feed into an actual streaming top-k set.
#
# The classic formulation is a sequential stream scan; the distributed /
# mergeable form (Agarwal et al., "Mergeable Summaries") is what both the
# batch query and the streaming state use:
#
# - COMPRESS a count vector to <= k counters by subtracting the (k+1)-th
#   largest count from every counter and dropping non-positives — pure
#   deterministic integer arithmetic (ties broken by value ASC), so the
#   DuckDB oracle replays it exactly.
# - MERGE two summaries by counter-wise SUM, then compress again.
#
# Guarantee: every surviving counter is a LOWER BOUND on the true count,
# and the total undercount is bounded by the sum of subtracted
# thresholds <= N/(k+1) per compress level — the Misra–Gries invariant,
# pinned in tests against exact counts.
MG_K = 32


def mg_compress_py(counters: dict[str, int], k: int = MG_K) -> dict[str, int]:
    """Compress a value→count map to at most ``k`` positive counters by
    the (k+1)-th-largest-count decrement. Deterministic: the threshold
    row is picked under (count DESC, value ASC) — the exact ordering the
    batch query and its oracle use."""
    if len(counters) <= k:
        return {v: c for v, c in counters.items() if c > 0}
    ordered = sorted(counters.items(), key=lambda vc: (-vc[1], vc[0]))
    thr = ordered[k][1]
    return {v: c - thr for v, c in ordered[:k] if c > thr}


def mg_merge_py(
    a: dict[str, int], b: dict[str, int], k: int = MG_K
) -> dict[str, int]:
    """Merge two Misra–Gries summaries: counter-wise sum, then compress.
    The streaming state fold (topk_freq_stream) is exactly
    ``mg_merge_py(state, batch_counts)`` per micro-batch."""
    m = dict(a)
    for v, c in b.items():
        m[v] = m.get(v, 0) + c
    return mg_compress_py(m, k)
