"""Measurement plumbing: spans, Spark's streaming progress, Spark's event
log, and the percentile rule every timing is reported with.

Nothing here reaches into the package: spans wrap calls the benchmark
makes, progress comes from a `StreamingQueryListener`, and task metrics
come from the event log Spark writes when `spark.eventLog.enabled` is set.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

TAIL_MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that still has at
    least ten samples beyond it. Below 21 samples that percentile would
    not lie above the median, so the maximum is returned, as percentile
    100."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_MIN_BEYOND + 1:
        return xs[-1], 100.0, n
    k = n - 1 - TAIL_MIN_BEYOND
    return xs[k], round(100.0 * (k + 1) / n, 1), n


def median(values: list[float]) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as one
    JSON file by `write`. Disabled tracers keep nothing.

    Spans nest per thread. A span opened on another thread with nothing
    open there (the foreachBatch callback Spark runs on its own thread)
    takes the main thread's innermost open span as its parent, so self
    time subtracts it from the call that waited for it."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            outer = stack or self._stacks.get(self._main) or [None]
            rec = {"id": len(self.spans), "name": name, "start": time.time(),
                   "end": None, "parent": outer[-1], "run_id": self.run_id,
                   "main": tid == self._main}
            self.spans.append(rec)
            stack.append(rec["id"])
        try:
            yield
        finally:
            with self._lock:
                stack.pop()
                rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class ProgressLog(StreamingQueryListener):
    """Every `StreamingQueryProgress` of every query, by query id."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs),
        }
        with self._lock:
            self.progress.setdefault(str(p.id), []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.id))

    def last_query(self) -> str:
        return self.started[-1]

    def batches(self, qid: str, n_batches: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress of batches 0..n_batches-1 of `qid` (events arrive on
        the listener bus after the query returns, so wait for them)."""
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                got = {r["batch"]: r for r in self.progress.get(qid, [])}
            if len(got) >= n_batches or time.time() > deadline:
                return [got[b] for b in sorted(got)]
            time.sleep(0.02)


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """{feed file name: batch id} from the file source's own metadata log
    (`<checkpoint>/sources/0/<batch>[.compact]`)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def fold_event_log(log_dir: str, spans: list[dict], cores: int,
                   measured: str = "workload.measure") -> dict:
    """Task metrics from Spark's event log, attributed to spans.

    Each task goes to the innermost span whose interval holds the task's
    finish time. Returns {span name: totals} plus `measured`: the totals
    of every task that finished inside a `measured` span, whose
    `cores_busy` is task run time / (span wall × cores)."""
    by_name: dict[str, dict] = {}
    total = _zero()
    outer = [s for s in spans if s["name"] == measured]
    total["wall_s"] = sum(s["end"] - s["start"] for s in outer)
    ordered = sorted(spans, key=lambda s: -s["start"])
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = ev.get("Task Info", {}).get("Finish Time", 0) / 1000.0
                owner = next(
                    (s for s in ordered if s["start"] <= fin <= s["end"]), None
                )
                if owner is None:
                    continue
                m = ev.get("Task Metrics") or {}
                _add(by_name.setdefault(owner["name"], _zero()), m)
                if any(s["start"] <= fin <= s["end"] for s in outer):
                    _add(total, m)
    total["cores_busy"] = (
        total["run_s"] / (total["wall_s"] * cores) if total["wall_s"] else 0.0
    )
    return {"spans": by_name, measured: total}


def _add(a: dict, m: dict) -> None:
    a["tasks"] += 1
    a["run_s"] += m.get("Executor Run Time", 0) / 1000.0
    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )


def _zero() -> dict:
    return {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "tasks": 0, "run_s": 0.0, "wall_s": 0.0}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
