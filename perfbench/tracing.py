"""Spans around layer calls, and Spark task metrics per span from the event log.

A span is (id, name, parent, start, end).  Its layer is the part of its name
before the first dot (``tables.append`` → ``tables``).  Every span also sets
the Spark job group to its name, so the tasks Spark runs inside it can be
attributed to it from the run-scoped event log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

SPARK_FIELDS = ("jobs", "tasks", "run_s", "gc_s", "shuffle_write_mb",
                "spill_mb", "task_skew")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def duration(self, name: str) -> float:
        """Summed duration of every span with this name (0 if none)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def subtree(self, root_name: str) -> list[dict]:
        """The first span named ``root_name`` and all spans below it."""
        root = next(s for s in self.spans if s["name"] == root_name)
        ids, out = {root["id"]}, [root]
        for s in self.spans:                 # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_times(self, root_name: str) -> dict[str, float]:
        """Layer → self time over the subtree: each span's duration minus
        the time its direct children cover.  The values sum to the root
        span's duration."""
        spans = self.subtree(root_name)
        child_time: dict[int, float] = {}
        for s in spans[1:]:
            child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                       + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Job group → Spark counters, from every event log under ``log_dir``.

    Reads ``SparkListenerJobStart`` (job group of each stage) and
    ``SparkListenerTaskEnd`` (task metrics).  Returns per group: job and
    task counts, executor run seconds, GC seconds, shuffle-write MB,
    disk-spill MB, the list of task run times per stage, and the total.
    """
    groups: dict[str, dict] = {}
    # Spark 4 writes each application's log as a directory of rolled
    # ``events_<n>_<app>`` files; stage ids restart in every application
    for app_dir, _, names in sorted(os.walk(log_dir)):
        stage_group: dict[int, str] = {}
        rolled = sorted((n for n in names if n.startswith("events_")),
                        key=lambda n: int(n.split("_")[1]))
        for name in rolled:
            with open(os.path.join(app_dir, name)) as f:
                for line in f:
                    _event(json.loads(line), groups, stage_group)
    return groups


def _event(ev: dict, groups: dict, stage_group: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untraced")
        groups.setdefault(g, _empty())["jobs"] += 1
        for sid in ev.get("Stage IDs", ()):
            stage_group[sid] = g
    elif kind == "SparkListenerTaskEnd":
        sid = ev.get("Stage ID")
        rec = groups.setdefault(stage_group.get(sid, "untraced"), _empty())
        tm = ev.get("Task Metrics") or {}
        run_ms = tm.get("Executor Run Time", 0)
        rec["tasks"] += 1
        rec["run_s"] += run_ms / 1000
        rec["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        rec["shuffle_write_mb"] += ((tm.get("Shuffle Write Metrics") or {})
                                    .get("Shuffle Bytes Written", 0) / 2 ** 20)
        rec["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2 ** 20
        rec["stage_runs"].setdefault(sid, []).append(run_ms)


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stage_runs": {}}


def layer_counters(groups: dict[str, dict], layer: str) -> dict[str, float]:
    """Sum the counters of every job group in ``layer``.  ``task_skew`` is
    the worst stage's slowest task over its mean task (stages of at least
    two tasks; 0 when there are none)."""
    out = {k: 0.0 for k in SPARK_FIELDS}
    for g, rec in groups.items():
        if g.split(".", 1)[0] != layer:
            continue
        for k in ("jobs", "tasks", "run_s", "gc_s", "shuffle_write_mb",
                  "spill_mb"):
            out[k] += rec[k]
        for runs in rec["stage_runs"].values():
            mean = statistics.fmean(runs)
            if len(runs) >= 2 and mean > 0:
                out["task_skew"] = max(out["task_skew"], max(runs) / mean)
    return out
