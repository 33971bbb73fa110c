"""Measurement helpers shared by the workloads: spans, streaming progress,
resident-memory sampling and percentiles. Nothing here calls into the
package under test except through the objects a workload hands in."""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from statistics import median  # noqa: F401  (re-exported for the workloads)


def spark_conf(work: str) -> dict[str, str]:
    """Session settings that keep Spark's own files inside the run's
    scratch directory."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp; JVM temp files in the scratch dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    }


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON
    when the run ends. Disabled tracers hand back the original callables,
    so an untraced run pays nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # a span opened on a thread with no open span of its own (the pool
        # threads route_batch publishes tables from) takes the innermost
        # open fan-out span, from whichever thread opened it, as parent
        self._fan_out: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, *args, **kwargs):
        return self._span(name, False, fn, args, kwargs)

    def _span(self, name: str, fan_out: bool, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else self._fan_out
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "run": self.run_id, "start": time.perf_counter(),
                               "end": None})
            if fan_out:
                outer, self._fan_out = self._fan_out, sid
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            if fan_out:
                self._fan_out = outer
            self.spans[sid]["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, fan_out: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned version until ``restore``.
        ``fan_out``: the call hands work to other threads, whose spans
        become children of this one."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self._span(name, fan_out, orig, args, kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    (``query.recentProgress`` keeps only the last 100). Returns the list
    the events are appended to, as dicts, and the listener to remove."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "id": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "at": time.time(),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Collector()
    spark.streams.addListener(listener)
    return events, listener


def wait_progress(events: list[dict], query_ids: set[str], rows: int,
                  timeout: float = 10.0) -> list[dict]:
    """The data-carrying progress events of ``query_ids``, once their input
    rows add up to ``rows`` (listener events arrive asynchronously) or
    ``timeout`` s have passed."""
    deadline = time.time() + timeout
    while True:
        got = [e for e in list(events) if e["id"] in query_ids and e["rows"] > 0]
        if sum(e["rows"] for e in got) >= rows or time.time() > deadline:
            return got
        time.sleep(0.05)


def job_count(spark) -> int:
    """Jobs the driver has started so far (the id of the next job)."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes (the forked Python workers share most of theirs) counted
    1/n in each, so a sum over processes counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


class MemorySampler:
    """Peak summed PSS of this interpreter and its descendants (the driver
    JVM and the Python workers it forks), sampled every ``interval`` s
    while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kb = sum(_pss_kb(pid) for pid in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def zero_layers() -> dict:
    """Every per-layer metric at 0; a workload overwrites the layers it
    exercises (a traced run prints all of them)."""
    from layers import PER_LAYER

    return {name: (0.0, unit) for name, unit in PER_LAYER}


def result(metrics: dict, attempted: int, failed: int, detail: dict) -> dict:
    """The result object; ``detail`` goes to standard error for humans."""
    import sys

    print("perfbench detail:", json.dumps(detail), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
