"""Spans, resident-memory sampling and Spark event-log digestion.

Spans are recorded only in traced runs, from the benchmark's own code
around each call into a layer of the program. They are kept in memory
and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    """Spans with name, start, end, parent and a trace id per operation.
    Disabled, `span` costs one attribute check and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._trace_ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        trace_id = next(self._trace_ids) if new_trace or parent is None else parent["trace"]
        s = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None,
             "trace": trace_id, "start": time.perf_counter(), "end": None, **attrs}
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time: a span's duration minus the part its children cover
        (children of one span never overlap: the client is one thread).
        Summed per layer, the span name up to its first dot."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "self_time_s": self.self_time_by_layer(), **extra}, fh,
                      indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of a process tree (the JVM and
    the Python workers it forks), sampled from /proc every `interval` s.
    The tree's membership is re-read every tenth sample."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        pids: list[int] = []
        for i in itertools.count():
            if i % 10 == 0:
                pids = descendants(self.root)
            self.peak_kib = max(self.peak_kib, sum(_rss_kib(p) for p in pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def event_log_by_group(path: str) -> dict[str, dict]:
    """Per job group (one per benchmark operation): stages, tasks, shuffle
    bytes written, bytes spilled, GC seconds and summed task run time, from
    a Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(group, {"stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                                      "spill_bytes": 0, "gc_s": 0.0, "task_run_s": 0.0})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    acc(stage_group[sid])["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                m = ev.get("Task Metrics")
                if sid not in stage_group or not m:
                    continue
                a = acc(stage_group[sid])
                a["tasks"] += 1
                a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                a["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory; data files are the ones not
    hidden by a leading '.' or '_'."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if not n.startswith((".", "_")) and "/_" not in root[len(path):]:
                files += 1
    return total, files
