"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The launcher pins the environment before
Spark starts (cores, driver heap, a per-run scratch directory holding
Spark's local dirs, sinks, checkpoints and stores, removed afterwards),
runs the workload, checks its outputs and prints, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. ``--smoke`` runs every workload at tiny sizes and asserts that each
metric named in BENCHMARK.json is printed with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("cdc_backlog", "lake_queries")


def pin_environment(work: str) -> None:
    # two Spark task slots leave cores for the JIT, GC and driver threads:
    # on a 4-core host, local[4] ran slower and spread wider than local[2]
    os.environ["SPARK_GRAFT_CPUS"] = str(min(2, os.cpu_count() or 1))
    # get_spark defaults the driver heap to 24g, whose growth follows GC
    # timing; a small ceiling keeps memory figures comparable between runs
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("OMP_NUM_THREADS", None)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "flink_cdc_multi_spark")):
        raise SystemExit(
            "perfbench: run from the repository root; the package "
            "flink_cdc_multi_spark is not in the current directory")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    pin_environment(work)
    if workload == "cdc_backlog":
        import w_backlog as mod
    else:
        import w_lake as mod
    try:
        return mod.run(seed=seed, seconds=seconds, trace=trace, work=work,
                       smoke=smoke)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM the session launched and wait for it to exit: PySpark
    keeps the gateway process alive after ``spark.stop()``, and its Python
    workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def smoke() -> int:
    """Every workload at tiny sizes in both trace modes, each run in its
    own process; checks each result line against BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        bad.append(f"BENCHMARK.json workloads differ from {WORKLOADS}")
    for w in WORKLOADS:
        # both trace modes of a workload side by side (two small JVMs)
        t = time.perf_counter()
        procs = [(trace, key, subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
            for trace, key in ((0, "end_to_end"), (1, "per_layer"))]
        for trace, key, proc in procs:
            stdout, stderr = proc.communicate()
            try:
                res = json.loads(stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                bad.append(f"{w} trace={trace}: no result line "
                           f"(exit {proc.returncode}): {stderr[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{w} trace={trace}: metrics or units differ: "
                           f"{sorted(set(got.items()) ^ set(want.items()))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{w} trace={trace}: checks failed {res}")
            print(f"smoke {w} trace={trace}: {time.perf_counter() - t:.1f} s, "
                  f"attempted={res['attempted']} failed={res['failed']}")
    for b in bad:
        print("SMOKE FAIL:", b)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench launcher")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny sizes (what --smoke runs)")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny sizes and check the output")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if a.workload is None:
        ap.error("--workload is required")
    result = run_one(a.workload, a.seed, a.seconds, bool(a.trace), a.tiny)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
