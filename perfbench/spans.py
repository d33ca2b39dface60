"""Measurement helpers read from outside the program.

- ``Tracer``: spans kept in memory (name, start, end, parent) and written
  once when the run ends; self time is a span's duration minus the part
  of it its children cover.
- ``timed_collect``: planning and execution of ONE ``QueryExecution`` —
  force ``executedPlan`` on the Dataset, then ``collect()`` the same
  Dataset (a ``noop`` write would build and plan a second execution).
- ``progress_legs`` / ``state_metrics``: a streaming query's
  ``recentProgress`` folded into per-leg totals.
- ``ExecutorWindow``: stage metrics from Spark's status store (readable
  with the UI disabled) for the stages started inside a window.
- ``peak_rss_mb``: high-water RSS of this process plus the Spark driver JVM.
"""

from __future__ import annotations

import datetime
import json
import os
import time
from contextlib import contextmanager

# progress ``durationMs`` legs of a trigger -> per-layer metric suffix
LEGS = {"addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
        "getBatch": "get_batch_ms", "latestOffset": "latest_offset_ms",
        "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms"}


class Tracer:
    """In-memory span recorder.  When disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "start": 0.0, "end": 0.0,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def add(self, name: str, start: float, end: float, parent, **attrs):
        """Record a span measured elsewhere (a streaming trigger)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, **attrs})

    def current(self):
        return self._stack[-1] if self._stack else None

    def durations_ms(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name`` recorded at or after
        span index ``since``."""
        return [1e3 * (s["end"] - s["start"]) for s in self.spans[since:]
                if s["name"] == name]

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's spans."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s, st in zip(self.spans, selfs):
                fh.write(json.dumps({**s, "self": st}) + "\n")


def timed_collect(df):
    """(plan_s, exec_s, rows) on one QueryExecution."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    rows = df.collect()
    return t1 - t0, time.perf_counter() - t1, rows


def _ts(stamp: str) -> float:
    return datetime.datetime.fromisoformat(
        stamp.replace("Z", "+00:00")).timestamp()


def progress_legs(progress: list[dict]) -> dict:
    """Fold a query's progress list: per-leg ms totals, trigger count,
    per-trigger latencies (all, and of the triggers that read input) and
    spans, and summed observed metrics."""
    out = {leg: 0.0 for leg in LEGS}
    out.update(triggers=0, trigger_ms=[], data_ms=[], spans=[], observed={})
    for p in progress:
        d = p.get("durationMs") or {}
        if "triggerExecution" not in d:
            continue
        out["triggers"] += 1
        out["trigger_ms"].append(d["triggerExecution"])
        if p.get("numInputRows", 0) > 0:
            out["data_ms"].append(d["triggerExecution"])
        for leg in LEGS:
            out[leg] += d.get(leg, 0)
        start = _ts(p["timestamp"])
        out["spans"].append((start, start + d["triggerExecution"] / 1e3, d))
        for name, row in (p.get("observedMetrics") or {}).items():
            agg = out["observed"].setdefault(name, {})
            for k, v in row.items():
                agg[k] = agg.get(k, 0) + (v or 0)
    return out


def state_metrics(progress: list[dict]) -> dict:
    """Latest state size and cumulative drops across a query's triggers."""
    rows = mem = dupes = late = 0
    for p in progress:
        for op in p.get("stateOperators") or []:
            rows, mem = op.get("numRowsTotal", 0), op.get("memoryUsedBytes", 0)
            late += op.get("numRowsDroppedByWatermark", 0)
            dupes += (op.get("customMetrics") or {}).get(
                "numDroppedDuplicateRows", 0)
    return {"rows": rows, "bytes": mem, "dupes": dupes, "late": late}


class ExecutorWindow:
    """Task metrics of the stages submitted after ``start()``."""

    def __init__(self, spark):
        self._spark = spark
        self._first = 0
        self._t0 = 0.0

    def _stages(self):
        sc = self._spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        arr = sc._gateway.new_array(jvm.double, 0)
        seq = store.stageList(None, False, False, arr, None)
        return [seq.apply(i) for i in range(seq.size())]

    def start(self) -> None:
        ids = [s.stageId() for s in self._stages()]
        self._first = max(ids) + 1 if ids else 0
        self._t0 = time.time()

    def read(self) -> dict:
        wall = time.time() - self._t0
        tot = dict(tasks=0, run=0, cpu=0, gc=0, sr=0, sw=0, spill=0)
        spans = []
        for s in self._stages():
            if s.stageId() < self._first:
                continue
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["run"] += s.executorRunTime()
            tot["cpu"] += s.executorCpuTime() / 1e6
            tot["gc"] += s.jvmGcTime()
            tot["sr"] += s.shuffleReadBytes()
            tot["sw"] += s.shuffleWriteBytes()
            tot["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3,
                              done.get().getTime() / 1e3))
        busy, edge = 0.0, self._t0
        for a, b in sorted(spans):
            a = max(a, edge)
            if b > a:
                busy += b - a
                edge = b
        return {
            "exec.tasks": tot["tasks"],
            "exec.task_run_ms": tot["run"],
            "exec.task_cpu_ms": tot["cpu"],
            "exec.gc_ms": tot["gc"],
            "exec.shuffle_read_bytes": tot["sr"],
            "exec.shuffle_write_bytes": tot["sw"],
            "exec.spill_bytes": tot["spill"],
            "exec.python_gap_ms": tot["run"] - tot["cpu"],
            "exec.driver_frac": max(0.0, 1.0 - busy / wall) if wall else 0.0,
        }


def _hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    kb = _hwm_kb("self") + (_hwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping metadata entries."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
