"""Spans, Spark event-log summaries and process-tree memory.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent span, run id), kept in memory and written out
when the run ends.  A disabled tracer records nothing, so timed runs
carry no tracing cost beyond one ``with`` statement per call.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: Σ (duration − time covered by direct children).
        Children of one parent run one after another (single client
        thread), so their durations add without overlap."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def event_log_summary(log_dir: str, group: str, window: tuple[float, float]) -> dict:
    """Jobs, stages, tasks, busy/CPU time and shuffle writes of the jobs
    in job group ``group``, and the part of ``window`` (epoch seconds)
    during which none of them ran."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, list] = {}
    group_stages: set[int] = set()
    ran_stages: set[int] = set()
    tasks = busy_ms = cpu_ns = shuffle_bytes = 0
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") != group:
                    continue
                jobs[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                group_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in group_stages:
                m = ev.get("Task Metrics") or {}
                ran_stages.add(ev["Stage ID"])
                tasks += 1
                busy_ms += m.get("Executor Run Time", 0)
                cpu_ns += m.get("Executor CPU Time", 0)
                shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    lo, hi = window
    covered, cur_end = 0.0, lo
    for start, end in sorted(jobs.values()):
        start, end = max(start, cur_end), min(end or hi, hi)
        if end > start:
            covered += end - start
            cur_end = end
    return {
        "jobs": len(jobs),
        "stages": len(ran_stages),
        "tasks": tasks,
        "task_busy_s": busy_ms / 1e3,
        "jvm_cpu_s": cpu_ns / 1e9,
        "shuffle_write_mb": shuffle_bytes / 2**20,
        "driver_gap_s": (hi - lo) - covered,
    }


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid`` (the JVM starts the
    Python worker daemon from a thread other than its main one)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    out, todo = [], _children(root or os.getpid())
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_peak_rss_mb() -> tuple[float, dict]:
    """Σ VmHWM (peak resident set) over this process and its descendants:
    the Python driver, the JVM it launched and the Python UDF workers.
    Also returns the MB per process name."""
    parts: dict[str, float] = defaultdict(float)
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            parts[fields["Name"].strip()] += int(fields["VmHWM"].split()[0]) / 1024
    return sum(parts.values()), dict(parts)
