"""Measurement plumbing, all from outside the package.

- :class:`Tracer`: in-memory spans (name, start, end, parent, run id) around
  the benchmark's calls into each layer, written out when the run ends.
- :class:`ProgressCollector`: a ``StreamingQueryListener`` keeping every
  micro-batch progress event (trigger durations, state-operator and source
  metrics, RocksDB custom metrics).
- :func:`tree_hwm_kb`, :func:`tree_cpu_s`: peak resident set and CPU time
  of this process and all its descendants (the driver JVM, the Python
  workers), read from ``/proc``.
- :func:`rest_stages`, :func:`rest_jobs`: Spark's REST stage and job
  lists, for attributing tasks, bytes and records to spans by submission
  time (UI must be on).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time
import urllib.request
import uuid

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans kept in memory. ``enabled=False`` makes :meth:`span` a no-op
    apart from the wall-clock it returns, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.traced = enabled  # the run is a traced one
        self.enabled = enabled  # spans are being recorded now
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1] if stack else None,
               "run_id": self.run_id, "attrs": attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)


class ProgressCollector(StreamingQueryListener):
    """Collects ``QueryProgressEvent``s; :meth:`wait_terminated` blocks
    until the listener bus has delivered a query's termination, after which
    all of that query's progress events have arrived (one ordered bus)."""

    def __init__(self):
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows_updated": s.numRowsUpdated,
                    "rows_total": s.numRowsTotal,
                    "all_updates_ms": s.allUpdatesTimeMs,
                    "commit_ms": s.commitTimeMs,
                    "memory_bytes": s.memoryUsedBytes,
                    "custom": dict(s.customMetrics),
                }
                for s in p.stateOperators
            ],
        }
        with self._cv:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Wait until ``n`` queries in total have terminated."""
        deadline = time.time() + timeout
        with self._cv:
            while len(self._terminated) < n:
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("streaming listener saw no termination")
                self._cv.wait(left)

    def data_triggers(self, since: int = 0) -> list[dict]:
        """Progress events (from index ``since``) that processed input."""
        with self._cv:
            return [p for p in self.progress[since:] if p["input_rows"] > 0]


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including the children each of them has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / tick


def tree_hwm_kb(root: int) -> int:
    """Sum of the resident-set high-water marks (VmHWM) of ``root`` and
    its live descendants: the peak memory of the driver JVM, the Python
    driver and the Python workers."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next((int(line.split()[1]) for line in fh
                               if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total


def tree_pids(root: int) -> list[int]:
    """``root`` followed by every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # the process ended while we read it
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _parse_ui_time(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


def rest_get(spark, path: str):
    """GET ``/api/v1/applications/<app>/<path>`` from the live UI. The UI
    binds on this host; talk to it on localhost."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def rest_stages(spark) -> list[dict]:
    """Completed stages with their submission time as epoch seconds. Waits
    briefly for the status store to catch up with finished jobs."""
    for _ in range(20):
        stages = rest_get(spark, "stages")
        if all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages):
            break
        time.sleep(0.25)
    out = []
    for s in stages:
        if s["status"] != "COMPLETE":
            continue
        out.append({
            "stage_id": s["stageId"],
            "submitted": _parse_ui_time(s.get("submissionTime")),
            "tasks": s["numTasks"],
            "run_ms": s.get("executorRunTime", 0),
            "input_bytes": s.get("inputBytes", 0),
            "input_records": s.get("inputRecords", 0),
            "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
        })
    return out


def rest_jobs(spark) -> list[dict]:
    """Jobs with their submission time as epoch seconds."""
    return [{"job_id": j["jobId"], "submitted": _parse_ui_time(j.get("submissionTime"))}
            for j in rest_get(spark, "jobs")]


def submitted_in(records: list[dict], spans: list[dict]) -> list[dict]:
    """Stages or jobs submitted inside any of ``spans``."""
    return [
        r for r in records
        if r["submitted"] is not None
        and any(sp["start"] <= r["submitted"] <= sp["end"] for sp in spans)
    ]
