"""In-memory spans around the benchmark's calls into the library, and the
digest that attributes Spark's own stage metrics to them.

Each span wraps one public call.  In a traced run the span's id becomes the
Spark job group of every job the call starts, so the event log Spark writes
(``spark.eventLog.enabled``) says which span each stage belongs to.  Spans
stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time

import pyarrow as pa


class Spans:
    """Span recorder.  ``sc`` is set only while tracing; without it a span
    is two clock reads and a list append, and no job group is touched."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.sc = None
        self.round_id: str | None = None
        self._stack: list[str] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"span-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        # the job group is set before the clock starts and reset after it
        # stops, so no span's time holds the tracer's own JVM calls
        if self.sc is not None:
            self.sc.setJobGroup(sid, name)
        rec = {"id": sid, "name": name, "parent": parent, "round": self.round_id,
               "start": time.time(), "end": None}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.records.append(rec)
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent, name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------------------- event log

# stage accumulables summed into each span, by the digest's own key
_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.input.bytesRead": ("scan_input_mb", 1e-6),
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("to_python_mb", 1e-6),
    "data returned from Python workers": ("from_python_mb", 1e-6),
}
DIGEST_KEYS = sorted({k for k, _ in _ACCUMS.values()} | {"stages", "tasks", "stage_s", "driver_s"})


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (possibly rolled, zstd-compressed) log file."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if os.path.isdir(path) or base.startswith((".", "appstatus")):
            continue
        comp = "zstd" if base.endswith(".zstd") else None
        with pa.input_stream(path, compression=comp) as f:
            text = f.read().decode()
        events.extend(json.loads(line) for line in text.splitlines() if line.strip())
    return events


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def digest(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Per span id: Spark's stage metrics for the jobs in the span's group,
    plus ``driver_s`` = span wall time minus the time its stages cover.

    A stage is credited to the group of the first job that lists it; stages
    that never complete (skipped) carry no metrics.  Jobs whose group is no
    span's id are ignored."""
    by_id = {s["id"]: s for s in spans}
    stage_group: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group in by_id:
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
    out = {sid: dict.fromkeys(DIGEST_KEYS, 0.0) for sid in by_id}
    intervals: dict[str, list[tuple[float, float]]] = {sid: [] for sid in by_id}
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        group = stage_group.get(info["Stage ID"])
        if group is None:
            continue
        row = out[group]
        row["stages"] += 1
        row["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            key = _ACCUMS.get(acc.get("Name"))
            if key is not None:
                row[key[0]] += float(acc.get("Value") or 0) * key[1]
        if "Submission Time" in info and "Completion Time" in info:
            intervals[group].append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
    for sid, s in by_id.items():
        covered = _covered(intervals[sid], s["start"], s["end"])
        out[sid]["stage_s"] = covered
        out[sid]["driver_s"] = max(0.0, (s["end"] - s["start"]) - covered)
    return out
