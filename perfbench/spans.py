"""Spans, Spark job groups and event-log accounting for the traced run.

A span wraps one call into an engine layer, recorded from the
benchmark's side of the boundary: name, start, end, parent and request
id, kept in memory and written out once at the end. Each span also
owns a Spark job group, so every job the call issues is tagged with
the span that issued it; after the session stops, the rolling event
log (``eventlog_v2_*/events_*``) is folded TaskEnd by TaskEnd into
per-layer Spark counters. Jobs land in the innermost open span, so
both the wall times and the Spark counters are self (exclusive)
figures.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

SPARK_COUNTERS = {
    # metric suffix -> (TaskEnd "Task Metrics" path, scale, unit)
    "cpu_s": (("Executor CPU Time",), 1e-9, "s"),
    "tasks": (None, 1, "count"),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1, "bytes"),
    "shuffle_read_records": (("Shuffle Read Metrics", "Total Records Read"), 1, "count"),
    "spill_bytes": (("Disk Bytes Spilled",), 1, "bytes"),
    "gc_s": (("JVM GC Time",), 1e-3, "s"),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1, "bytes"),
}


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op, so the
    untraced run executes the same benchmark code without the cost."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request_id: str | None = None
        # job group -> layer, for every traced span and for the
        # streaming queries started inside one
        self.group_layers: dict[str, str] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer or name.rsplit(".", 1)[0],
            "parent": parent["id"] if parent else None,
            "request": self.request_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"pb{rec['id']}"
        self.group_layers[group] = rec["layer"]
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb{parent['id']}", parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def self_seconds(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children are sequential: one thread issues every call)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child_time[s["id"]]
            for s in self.spans
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: rolling ``eventlog_v2_*`` dirs
    hold ``events_<n>_*`` parts; a non-rolling log is one plain file."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            files.extend(parts)
        else:
            files.append(entry)
    return files


def spark_counters(log_dir: str, group_layers: dict[str, str]) -> dict:
    """Fold TaskEnd metrics into ``{layer: {counter: value}}`` by the
    job group of the job owning each task's stage. Jobs outside any
    known group are filed under ``untraced``. Also returns jobs per
    group under the ``"_jobs_per_group"`` key."""
    stage_group: dict[int, str | None] = {}
    jobs_per_group: dict[str, int] = defaultdict(int)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                # cheap prefilter: only two event kinds matter
                if '"SparkListenerJobStart"' in line[:40]:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs_per_group[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line[:40]:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    layer = group_layers.get(group, "untraced")
                    tm = ev.get("Task Metrics") or {}
                    acc = out[layer]
                    for name, (path_, scale, _) in SPARK_COUNTERS.items():
                        if path_ is None:
                            acc[name] += 1
                            continue
                        v = tm
                        for key in path_:
                            v = v.get(key, 0) if isinstance(v, dict) else 0
                        acc[name] += (v or 0) * scale
    result = {k: dict(v) for k, v in out.items()}
    result["_jobs_per_group"] = dict(jobs_per_group)
    return result
