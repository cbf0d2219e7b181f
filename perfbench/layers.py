"""What the benchmark learns about a run from outside the program.

- :class:`Progress` is a ``StreamingQueryListener``: it keeps every
  micro-batch's progress, so each drain's batches are known without
  reading the program's own state.
- :func:`event_log_layers` reads the Spark event log a traced run writes
  into its own directory and sums jobs, stages and task metrics per
  timed call, attributing each job by its submission time.
- :func:`drain_layers` turns a drain's progress into the ``streaming.*``
  and ``state.*`` per-layer numbers.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch", "addBatch")


class Progress(StreamingQueryListener):
    def __init__(self) -> None:
        self.started: list[str] = []
        self.terminated: list[str] = []
        self.progress: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append(str(event.runId))
            self._cv.notify_all()

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.append(str(event.runId))
            self._cv.notify_all()

    def mark(self) -> tuple[int, int]:
        with self._cv:
            return len(self.started), len(self.progress)

    def since(self, mark: tuple[int, int], queries: int, timeout: float = 60.0) -> list[dict]:
        """Progress of the ``queries`` streaming queries started after
        ``mark``, once the listener has seen each of them terminate
        (listener events arrive asynchronously)."""
        s0, p0 = mark
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                runs = self.started[s0:]
                if len(runs) >= queries and all(r in self.terminated for r in runs):
                    return [p for p in self.progress[p0:] if p.get("runId") in runs]
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(
                        f"listener saw {len(runs)} of {queries} streaming queries end"
                    )
                self._cv.wait(left)


def drain_layers(progress: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {"streaming.microbatches": len(progress)}
    for ph in PHASES:
        out[f"streaming.{ph}_ms"] = sum(p["durationMs"].get(ph, 0) for p in progress)
    out["streaming.trigger_ms"] = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    out["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in progress)
    ops = [[o for o in p.get("stateOperators") or []] for p in progress]
    out["state.commit_ms"] = sum(o.get("commitTimeMs", 0) for b in ops for o in b)
    out["state.rows_total_max"] = max((sum(o.get("numRowsTotal", 0) for o in b) for b in ops), default=0)
    out["state.memory_bytes_max"] = max((sum(o.get("memoryUsedBytes", 0) for o in b) for b in ops), default=0)
    out["state.rows_updated"] = sum(o.get("numRowsUpdated", 0) for b in ops for o in b)
    out["state.rows_removed"] = sum(o.get("numRowsRemoved", 0) for b in ops for o in b)
    out["state.rows_dropped_late"] = sum(o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b)
    return out


# SQL metrics of the pandas/Arrow Python operators, as the event log names
# them in each task's accumulables
PYTHON_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
}

EXEC_COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
)


def log_files(log_dir: str) -> list[str]:
    """The event log's files in write order. Spark 4 writes a directory
    ``eventlog_v2_<app>/`` of ``events_<n>_<app>`` parts."""
    def order(path: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    return sorted((p for p in paths if os.path.isfile(p) and "appstatus" not in p), key=order)


def event_log_layers(log_dir: str, windows: list[tuple[int, int]]) -> list[dict[str, float]]:
    """Per-window sums over the event log: ``windows`` are the timed calls'
    ``[start_ms, end_ms]`` wall-clock spans, and a job belongs to the call
    during which it was submitted."""
    files = log_files(log_dir)
    out = [dict.fromkeys(EXEC_COUNTERS + tuple(PYTHON_METRICS.values()), 0) for _ in windows]
    stage_win: dict[int, int] = {}

    def win_of(ms: int) -> int | None:
        for i, (a, b) in enumerate(windows):
            if a <= ms <= b:
                return i
        return None

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    w = win_of(ev["Submission Time"])
                    if w is None:
                        continue
                    out[w]["exec.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_win.setdefault(sid, w)
                elif kind == "SparkListenerStageCompleted":
                    w = stage_win.get(ev["Stage Info"]["Stage ID"])
                    if w is not None:
                        out[w]["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    w = stage_win.get(ev["Stage ID"])
                    if w is None:
                        continue
                    o = out[w]
                    o["exec.tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    o["exec.task_run_ms"] += m.get("Executor Run Time", 0)
                    o["exec.task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    o["exec.gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    o["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    o["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    o["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PYTHON_METRICS.get(acc.get("Name"))
                        if key:
                            o[key] += float(acc.get("Update") or 0)
    return out
