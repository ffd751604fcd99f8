"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent and trace id (workload/pass/op).
Spans stay in memory and are written when the run ends. A span opened with
``group=True`` also tags the Spark jobs it launches with a job group of its
own, so job counts come from ``statusTracker().getJobIdsForGroup`` and the
executor metrics of those jobs from the Spark event log. A disabled tracer
records nothing and calls nothing in Spark.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id = ""
        self.bookkeeping_s = 0.0  # time spent in the tracer's own Spark calls
        self._stack: list[dict] = []
        self._sc = None
        self._codegen = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        codegen_pkg = jvm.org.apache.spark.sql.catalyst.expressions.codegen
        gen = getattr(getattr(codegen_pkg, "CodeGenerator$"), "MODULE$")
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = (gen, hist)

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": self.trace_id,
            "parent": parent["id"] if parent else None,
            "group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if group:
            rec["group"] = f"{self.trace_id}#{rec['id']}:{name}"
            self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                t = time.perf_counter()
                rec["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(rec["group"]))
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                self._set_group(outer)
                self.bookkeeping_s += time.perf_counter() - t

    def _set_group(self, gid: str | None) -> None:
        t = time.perf_counter()
        if gid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(gid, gid)
        self.bookkeeping_s += time.perf_counter() - t

    def codegen(self) -> tuple[int, float]:
        """(janino compiles so far, seconds spent compiling so far)."""
        if not self.enabled:
            return 0, 0.0
        t = time.perf_counter()
        gen, hist = self._codegen
        out = int(hist.getCount()), gen.compileTime() / 1e9
        self.bookkeeping_s += time.perf_counter() - t
        return out

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a grouped span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, group=True):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


# ---------------------------------------------------------------------------
# Spark event log (plain JSON lines: spark.eventLog.compress=false)
# ---------------------------------------------------------------------------

TASK_FIELDS = (
    "tasks",
    "empty_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _event_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:  # non-rolling layout: one file per application
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages run, and task totals (TASK_FIELDS)."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages_seen: set[int] = set()
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    per_group[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group and sid not in stages_seen:
                        stages_seen.add(sid)
                        per_group[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = per_group[group]
                    sr = m.get("Shuffle Read Metrics", {})
                    records_in = m.get("Input Metrics", {}).get("Records Read", 0) + sr.get(
                        "Total Records Read", 0
                    )
                    g["tasks"] += 1
                    g["empty_tasks"] += records_in == 0
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                        "Remote Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in per_group.items()}
