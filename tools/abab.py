"""Same-session ABAB timing of plan variants, with a result-equality gate.

Each variant is a ``module:function`` whose function takes
``(spark, sf_dir)`` and returns a DataFrame — the query-registry
signature, so any registered query is a variant as it stands:

    python tools/abab.py <sf_dir> \\
        flink_cdc_multi_spark.plans.extensions:ext_dedup_lines \\
        mymodule:line_dedup_candidate

Method (the repo's A/B discipline, PERF.md "Retired lanes"):
- one Spark session; every plan is built ONCE, so plan-construction
  work (index builds, collects) stays out of the timings;
- warm-up: one untimed execution of each variant (JIT, codegen compile,
  file cache) that also computes the variant's checksum;
- timed: ROUNDS rounds in the forward order (A B ...) and as many in
  the reverse order (... B A), so a second-runner penalty lands on
  every variant equally;
- one execution = ``write.format("noop")``: the full plan runs, nothing
  is collected or written.

Prints per variant the median and quartiles of its timings, its row
count and its checksum (sha256 over the sorted row reprs). Exits 1 if
the variants' checksums differ: a faster wrong answer is not a result.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import statistics
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# (spark, sf_dir) -> DataFrame, the query-registry signature
Variant = Callable[..., object]
ROUNDS = 3  # per alternation order: 6 timed runs per variant


@dataclass
class Timing:
    name: str
    rows: int = 0
    checksum: str = ""
    samples: list[float] = field(default_factory=list)

    def quartiles(self) -> tuple[float, float, float]:
        """(q1, median, q3); run_abab takes at least two samples."""
        q1, med, q3 = statistics.quantiles(self.samples, n=4, method="inclusive")
        return q1, med, q3


def resolve(spec: str) -> Variant:
    """``package.module:function`` → the function."""
    mod, sep, fn = spec.partition(":")
    if not sep or not mod or not fn:
        raise ValueError(f"variant must be module:function, got {spec!r}")
    return getattr(importlib.import_module(mod), fn)


def checksum(df) -> tuple[int, str]:
    """(row count, sha256 over the sorted reprs of the rows' values) —
    order-insensitive, so two plans that shuffle differently agree."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def run_abab(spark, sf_dir: str, variants: dict[str, Variant]) -> dict[str, Timing]:
    """Build each variant's plan once, warm up while taking checksums,
    then time ROUNDS forward and ROUNDS reverse alternations."""
    sc = spark.sparkContext
    plans = {name: fn(spark, sf_dir) for name, fn in variants.items()}
    out = {name: Timing(name) for name in variants}
    for name, df in plans.items():
        sc.setJobDescription(f"abab warm {name}")
        out[name].rows, out[name].checksum = checksum(df)
    forward = list(plans)
    for order in (forward, forward[::-1]):
        for i in range(ROUNDS):
            for name in order:
                sc.setJobDescription(f"abab {name} r{i}")
                out[name].samples.append(_noop(plans[name]))
    sc.setJobDescription(None)
    return out


def checksums_agree(result: dict[str, Timing]) -> bool:
    return len({t.checksum for t in result.values()}) == 1


def report(result: dict[str, Timing]) -> str:
    lines = []
    base = None
    for t in result.values():
        q1, med, q3 = t.quartiles()
        base = base or med
        lines.append(
            f"{t.name}: median {med:.3f}s  q1 {q1:.3f}s  q3 {q3:.3f}s  "
            f"n={len(t.samples)}  first/this {base / med:.2f}x  "
            f"rows={t.rows}  sha256={t.checksum[:16]}"
        )
    lines.append(
        "checksums: equal" if checksums_agree(result)
        else "checksums: DIFFER — the variants do not compute the same rows"
    )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("variants", nargs="+", help="module:function, two or more distinct")
    args = ap.parse_args(argv)
    variants = {spec: resolve(spec) for spec in args.variants}
    if len(variants) < 2:
        ap.error("need at least two distinct variants")

    from flink_cdc_multi_spark.session import get_spark

    spark = get_spark("abab")
    result = run_abab(spark, args.sf_dir, variants)
    print(report(result))
    return 0 if checksums_agree(result) else 1


if __name__ == "__main__":
    sys.exit(main())
