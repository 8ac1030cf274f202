"""Traced-run instrumentation: spans around the benchmark's calls into the
package's public functions, and the fold of Spark's event log into
per-pass layer metrics.

Spans form a tree (pass > unit > build/collect/stream/release > catalog
load or sink, plus the Spark jobs of each unit). Each span records name,
layer, start, end, parent and self time (its duration minus the part its
children cover); the run writes them, with per-layer self-time totals, as
one JSON file.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory; recorded only while ``enabled``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self.enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parents = self._stacks.setdefault(threading.get_ident(), [])
        # A callback thread (foreachBatch) nests under the main thread's
        # innermost open span.
        main = self._stacks.get(self._main) or [None]
        parent = parents[-1] if parents else main[-1]
        rec = {"name": name, "layer": layer, "start": time.time(), "end": None,
               "parent": parent}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        parents.append(rec["id"])
        try:
            yield rec
        finally:
            parents.pop()
            rec["end"] = time.time()

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def patch_everywhere(original, replacement) -> None:
    """Rebind every module-level reference to ``original`` (the package
    modules import functions by name, so patching one module is not
    enough)."""
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None) or {}
        for key, val in list(d.items()):
            if val is original:
                d[key] = replacement


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: single-file logs and the rolling
    ``eventlog_v2_*/events_*`` layout alike, skipping the empty
    ``appstatus_*`` markers and hidden ``.crc`` checksums."""
    events = []
    for dirpath, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith(("appstatus", ".")):
                continue
            with open(os.path.join(dirpath, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _acc(task_info: dict, name: str) -> int:
    """Sum of a SQL metric's task updates (one per plan node that has it)."""
    total = 0
    for acc in task_info.get("Accumulables", ()):
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def fold_jobs(events: list[dict]) -> list[dict]:
    """One record per job: group, submit/complete ms, stages and summed
    task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "group": props.get("spark.jobGroup.id"),
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None, "stages": set(), "tasks": 0, "run_ms": 0,
                "cpu_ms": 0.0, "gc_ms": 0, "task_overhead_ms": 0,
                "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                "py_sent": 0, "py_returned": 0,
            }
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            job["stages"].add(ev.get("Stage ID"))
            job["tasks"] += 1
            run = m.get("Executor Run Time", 0)
            job["run_ms"] += run
            job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["task_overhead_ms"] += max(
                0, info.get("Finish Time", 0) - info.get("Launch Time", 0) - run
            )
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            job["spill"] += m.get("Disk Bytes Spilled", 0)
            job["py_sent"] += _acc(info, "data sent to Python workers")
            job["py_returned"] += _acc(info, "data returned from Python workers")
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def covered_seconds(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    clipped = sorted(
        (max(start, a), min(end, b)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attach_jobs(tracer: Tracer, jobs: list[dict], group_units: dict[str, int]) -> None:
    """Add each job as a child span of the unit it belongs to: the unit its
    job group names, else the unit open at its submission (the loop is
    closed, so one unit runs at a time). A job counts only if submitted
    while its unit was open, so jobs outside every unit (the correctness
    check) are left out."""
    units = {s["id"]: s for s in tracer.spans if s["layer"] == "unit"}
    for job in jobs:
        owner = group_units.get(job["group"]) if job["group"] else None
        if owner is None:
            owner = next((u for u in units if _open_at(units[u], job["submit"])), None)
        if owner is None or not _open_at(units[owner], job["submit"]):
            continue
        # innermost span under the unit that was open at submission
        parent = owner
        for s in tracer.spans:
            if (
                s["layer"] not in ("unit", "pass", "spark.job")
                and s["start"] <= job["submit"] <= (s["end"] or 0)
                and _descends(tracer.spans, s["id"], owner)
            ):
                parent = s["id"]
        job["unit"] = owner
        tracer.spans.append({
            "id": len(tracer.spans), "name": f"job {job['job']}",
            "layer": "spark.job", "start": job["submit"], "end": job["end"],
            "parent": parent, "group": job["group"], "tasks": job["tasks"],
        })


def _open_at(span: dict, t: float) -> bool:
    # the event log truncates submission times to whole milliseconds
    return span["start"] - 0.001 <= t <= span["end"]


def _descends(spans: list[dict], sid: int, ancestor: int) -> bool:
    while sid is not None:
        if sid == ancestor:
            return True
        sid = spans[sid]["parent"]
    return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Fill ``self_ms`` on every span (its duration minus the part its
    children cover); return per-layer self-time totals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    per_layer: dict[str, float] = {}
    for s in spans:
        covered = covered_seconds(s["start"], s["end"], children.get(s["id"], []))
        s["self_ms"] = (s["end"] - s["start"] - covered) * 1000.0
        per_layer[s["layer"]] = per_layer.get(s["layer"], 0.0) + s["self_ms"]
    return per_layer
