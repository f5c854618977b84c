"""Spans around calls into the engine, process memory, and Spark's own
stage metrics.

Spans are kept in memory and written out once, at the end of a run.
A disabled tracer records nothing, so the untraced run pays only for a
context manager per call.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        """Durations of the finished ``name`` spans, of one phase if
        given."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (phase is None or s.get("phase") == phase)]

    def child_cover(self, parent_name: str) -> list[float]:
        """Per ``parent_name`` span, the share of its wall that its
        direct children cover."""
        out = []
        for p in self.spans:
            if p["name"] != parent_name or p["end"] is None:
                continue
            kids = sum(s["end"] - s["start"] for s in self.spans
                       if s["parent"] == p["id"] and s["end"] is not None)
            wall = p["end"] - p["start"]
            out.append(kids / wall if wall > 0 else 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# memory


def child_pids(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python
    worker daemon from one of its own threads)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root_pid: int, children: bool = True) -> float:
    """Summed high-water resident set of ``root_pid`` and, with
    ``children``, every process below it (the driver JVM and the Python
    workers it forked)."""
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        if children:
            todo.extend(child_pids(pid))
    return total / 1024.0


# --------------------------------------------------------------------------
# Spark runtime metrics (REST API; needs the UI enabled)

#: session conf for the traced run: the UI on an ephemeral port
UI_CONF = {"spark.ui.enabled": "true", "spark.ui.port": "0",
           "spark.ui.showConsoleProgress": "false"}

_STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "resultSize": "result_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputRecords": "input_records",
    "numCompleteTasks": "tasks",
}


class SparkRest:
    """Cumulative totals over the application's completed stages; take
    a snapshot before and after a region and subtract."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = sc.uiWebUrl
        self.app = sc.applicationId

    def get(self, path: str):
        url = f"{self.base}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        tot = {v: 0 for v in _STAGE_FIELDS.values()}
        for st in self.get("stages?status=complete"):
            for k, v in _STAGE_FIELDS.items():
                tot[v] += st.get(k, 0) or 0
        tot["jobs"] = len(self.get("jobs"))
        return tot

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: after[k] - before[k] for k in after}

    def wait_idle(self, timeout_s: float = 10.0) -> None:
        """Stage records reach the REST store through the listener bus
        after the action returns; wait until no job is running."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if not any(j.get("status") == "RUNNING" for j in self.get("jobs")):
                time.sleep(0.2)  # let the bus drain the stage-completed event
                return
            time.sleep(0.1)


def cache_bytes(spark) -> int:
    """Bytes held by cached RDDs/tables right now (memory and disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
